package graft

import graft.meta.UniqueNames
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    // Audit the AT-SCALE plan shape: ShardedRank's small-input dispatch
    // (r13) picks the plain-window form whenever the whole input is
    // estimated under one sort-task — which on the KB-sized test
    // fixtures would be EVERY call, so the census and the PlanSpec
    // shape pins would only ever see the toy path. Disabling the
    // dispatch here makes every structural test assert the sharded
    // 100 TB shape; the dispatch itself (both the flip and the
    // window-path equivalence) is pinned in ShardedRankSpec on a
    // private newSession, and the window path's end-to-end outputs are
    // what Verify checks against the DuckDB oracle (default conf).
    s.conf.set(graft.ops.ShardedRank.smallInputKey, "0")
    s
  }
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  // Queries whose CORRECT small-fixture answer is the empty set: q139
  // reports only genuinely near-duplicate media (64-bit blockhash,
  // Hamming <= 8 — random collisions ~3e-10), and the sf0.001/sf0.01
  // samples contain no planted media near-dups (measured: min pairwise
  // distance 10). Forcing rows > 0 would force the operator to emit
  // noise; its positive case is pinned by ExtSpec's planted-pair test
  // and the sf0.1 bench corpus (45 real pairs).
  private val emptyOnTinySf = Set("q139_media_neardup")

  test("every registered query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      if (!emptyOnTinySf.contains(name))
        assert(n > 0, s"$name returned 0 rows")
      // Global census: no query may plan a CartesianProduct — new
      // registry entries get pinned automatically. A session artifact's
      // build plan prints inside its InMemoryRelation node, so a
      // cartesian inside an artifact build still fails here.
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      graft.ops.TransientCache.releaseAll()
    }
  }

  test("the registered surface is fully oracle-gated and never shrinks") {
    // Round-5 lesson: two queries vanished from CORRECTNESS without a red
    // row. With Verify's _ERR sentinels a failure is now visible, and this
    // pin makes a silent registry shrink (or an oracle-less query, which
    // the driver only rows-only-checks) a named red test.
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"oracle/registry drift: ${
        (SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet) ++
        (SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet)}")
    // EXACT count against the single declared constant README cites
    // (r6 verdict item 7: hand-maintained doc counts briefly said "136"
    // one commit before q137 landed — drift is now a red test).
    assert(SparkEntry.queries.size == SparkEntry.registrySize,
      s"registry count drift: ${SparkEntry.queries.size} queries but " +
        s"SparkEntry.registrySize = ${SparkEntry.registrySize}; update the " +
        "constant (and README/COVERAGE) in the same commit")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q01 aggregates are internally consistent") {
    // Queries emit decimal-exact measures since r8 (the double cast
    // lives at the dump boundary, Verify.dumpAll); the spec reads what
    // the driver reads by applying the same boundary transform.
    val rows = graft.queries.Parity.outputDoubles(
      SparkEntry.queries("q01_pricing_summary")(spark, sf)).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_base_price") > 0)
    }
  }

  test("q05 prefix join children strictly extend parents") {
    SparkEntry.queries("q05_prefix_join")(spark, sf).collect().foreach { r =>
      val child = r.getAs[String]("child_unique")
      assert(child.contains(".&["))
    }
  }

  test("q15 rollup grand total equals sum of region subtotals") {
    // Dump-boundary transform, as in q01's test: the dumped sum_qty is
    // a double holding an exact 2-dp decimal (quantities are integers;
    // well under 2^53) so BigDecimal-per-element sums are exact.
    val rows = graft.queries.Parity.outputDoubles(
      SparkEntry.queries("q15_rollup")(spark, sf)).collect()
    def total(lvl: Int): BigDecimal = rows.filter(_.getAs[Int]("lvl") == lvl)
      .map(r => BigDecimal(r.getAs[Double]("sum_qty"))).sum
    assert(total(2) == total(1) && total(2) == total(0))
  }
}

class UniqueNamesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("depth counts key parts") {
    val df = Seq(
      "[D].[H].&[1]" -> 1,
      "[D].[H].[L].&[1].&[2]" -> 2,
      "[D].[H].[L].&[a].&[b].&[c]" -> 3
    ).toDF("u", "expected")
    val got = df.select(UniqueNames.depth($"u").as("d"), $"expected").collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("parentByPrefix strips exactly one key part; null at depth 1") {
    val df = Seq("[D].[H].&[1].&[2]", "[D].[H].&[1]").toDF("u")
    val got = df.select(UniqueNames.parentByPrefix($"u")).collect()
    assert(got(0).getString(0) == "[D].[H].&[1]")
    assert(got(1).isNullAt(0))
  }

  test("levelNameSegment present only for new-cube names") {
    val df = Seq("[D].[H].[Lvl].&[1]", "[D].[H].&[1]").toDF("u")
    val got = df.select(UniqueNames.levelNameSegment($"u")).collect()
    assert(got(0).getString(0) == "Lvl")
    assert(got(1).isNullAt(0))
  }

  test("property: oldCube names round-trip depth and lastKey") {
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val keysGen = Gen.nonEmptyListOf(keyGen).map(_.take(5))
    val params = org.scalacheck.Gen.Parameters.default
    val samples = (0 until 40).flatMap(i =>
      keysGen(params, org.scalacheck.rng.Seed(i.toLong))).filter(_.nonEmpty)
    assert(samples.size >= 20)
    val names = samples.map(keys => ("[D].[H]" + keys.map(k => s".&[$k]").mkString, keys))
    val df = names.map(_._1).toDF("u")
    val rows = df.select($"u", UniqueNames.depth($"u"), UniqueNames.lastKey($"u"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    names.foreach { case (name, keys) =>
      val (d, lk) = rows(name)
      assert(d == keys.size, s"depth($name)")
      assert(lk == keys.last, s"lastKey($name)")
    }
  }

  test("parseRanges handles singletons, ranges, dedup, sort") {
    assert(UniqueNames.parseRanges("1,3,5-10") == Seq(1, 3, 5, 6, 7, 8, 9, 10))
    assert(UniqueNames.parseRanges("10-12, 11, 2") == Seq(2, 10, 11, 12))
    assert(UniqueNames.parseRanges("7") == Seq(7))
  }
}
