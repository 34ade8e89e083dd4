package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The registry runner's per-query record, driven through the factored
  * [[Bench.runPass]] on three queries at sf0.001: q01 (a fact scan),
  * q02 (an artifact reader) and q65 (whose `tok_counts` artifact first
  * builds `src_tok_counts`), one warm and one cold pass.
  *
  * Runs on a private `newSession()`: the cold pass clears SessionCache
  * per session, so other suites' artifacts survive it. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark.newSession()
  val sf = "/root/testdata/sf0.001"
  private val names = Seq("q01_pricing_summary", "q02_revenue_by_nation", "q65_vocab_topk")

  /** Run `body` with a Recorder on the bus, removed afterwards. */
  private def recording[T](body: Bench.Recorder => T): T = {
    val rec = new Bench.Recorder
    spark.sparkContext.addSparkListener(rec)
    try body(rec) finally spark.sparkContext.removeSparkListener(rec)
  }

  test("records: segments sum to the wall, census matches PlanAudit, each build charged once") {
    recording { rec =>
      val qs = names.map(n => n -> SparkEntry.queries(n))
      val passes = Seq(
        Bench.runPass(spark, sf, qs, cold = false, "registry", rec),
        Bench.runPass(spark, sf, qs, cold = true, "registry", rec))
      // The listener bus is asynchronous: wait until every query's jobs
      // have reached it before reading the records.
      eventually(timeout(Span(30, Seconds))) {
        passes.flatMap(_.recs).foreach { r =>
          val (jobs, stages) = rec.stats(r.group)
          assert(jobs >= 1 && stages.nonEmpty, r.name)
        }
      }
      val census = names.map { n =>
        try n -> PlanAudit.census(graft.queries.Parity.outputDoubles(
          SparkEntry.queries(n)(spark, sf)).queryExecution)
        finally graft.ops.TransientCache.releaseAll()
      }.toMap
      val json = new ObjectMapper()
      passes.zip(Seq("warm", "cold")).foreach { case (p, label) =>
        assert(p.failed.isEmpty, label)
        val recs = json.readTree(Bench.jrecords(p, rec))
        assert(recs.fieldNames.asScala.toSeq == names, label)
        names.foreach { n =>
          val r = recs.get(n)
          def ms(f: String) = r.get(f).asDouble
          val parts = ms("construct_ms") + ms("plan_ms") + ms("exec_ms")
          assert(math.abs(parts - ms("wall_ms")) <= 1.0, s"$label $n: $parts vs ${ms("wall_ms")}")
          assert(r.get("tasks").asInt >= 1 && r.get("stages").asInt >= 1, s"$label $n")
          val c = r.get("census")
          val want = census(n)
          assert(Seq("exch", "cart", "bnlj", "smj", "bhj", "scans", "wscg", "noncg").map(c.get(_).asInt) ==
            Seq(want.exch, want.cart, want.bnlj, want.smj, want.bhj, want.scans, want.wscg, want.noncg),
            s"$label $n census")
        }
      }
      // Cold: every query builds its own artifacts inside its own record,
      // and a nested build is charged once — the exclusive ledger never
      // exceeds the construction window the builds ran in.
      val cold = passes(1).recs.map(r => r.name -> r).toMap
      assert(cold("q02_revenue_by_nation").built.nonEmpty)
      assert(cold("q65_vocab_topk").built.keySet ==
        Set(s"tok_counts:$sf", s"src_tok_counts:$sf", s"tok_doc_freq:$sf"))
      cold.values.foreach { r =>
        assert(r.built.values.sum * 1e9 <= r.constructNs + 1e6,
          s"${r.name}: ledger ${r.built} exceeds construction ${r.constructNs / 1e9} s")
      }
      assert(cold("q01_pricing_summary").built.isEmpty)
      // Stored layout: q02 reads the base pre-aggregate through a serving
      // reader, which reads it as one partition; q65's artifacts are read
      // in their stored partitions.
      passes.foreach { p =>
        val stored = json.readTree(Bench.jstored(p))
        val cube = graft.mdx.SalesCube.cube
        val pa = cube.preAggs.find(_.name == "base").get
        val base = stored.get(s"preagg:${graft.mdx.MdxLowerer.preAggKey(cube, pa)}:$sf")
        assert(base.get("bytes").asLong > 0 && base.get("partitions").asInt > 1)
        assert(base.get("one_partition").asBoolean)
        assert(!stored.get(s"tok_counts:$sf").get("one_partition").asBoolean)
      }
    }
  }

  test("a query that throws is listed as failed and never timed") {
    val broken: (SparkSession, String) => DataFrame =
      (s, d) => Tables.events(s, d).selectExpr("no_such_column + 1")
    recording { rec =>
      val p = Bench.runPass(spark, sf,
        Seq("bench_broken" -> broken, "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary")),
        cold = false, "registry", rec)
      assert(p.failed == Seq("bench_broken"))
      assert(p.recs.map(_.name) == Seq("q01_pricing_summary"))
      assert(p.times.map(_._1) == Seq("q01_pricing_summary"))
    }
  }
}
