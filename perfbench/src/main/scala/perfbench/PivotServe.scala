package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.mdx.{MdxLowerer, MdxParser, SalesCube}
import graft.meta.Dmv
import graft.model.MemberCatalog
import graft.ops.{MemberOps, SessionCache, TransientCache}
import graft.queries.Parity
import graft.service.QueryService
import graft.service.QueryService.{FilterSpec, QueryRequest, RowSpec}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object PivotServe {
  private final case class Req(id: String, key: String, kind: String, node: JsonNode)
  /** One cold registry query: construct seconds, its SessionCache build
    * ledger, wall seconds and output rows. */
  private final case class Reg(name: String, constructS: Double, ledger: Map[String, Double],
                               wallS: Double, rows: Long)
}

/** Interactive user: closed loop of pivots (JSON request → MDX → grid),
  * member-browse pages and DMV rowsets, `clients` threads, against a
  * session whose `members` and `preagg:Sales:*` artifacts were built
  * during set-up by a cold pass over registry queries. */
final class PivotServe(val ctx: Ctx) extends Workload {
  import PivotServe.{Reg, Req}

  val tailQuantile = 0.90
  private val page = 1000

  private def reqs(arr: JsonNode): IndexedSeq[Req] =
    arr.elements.asScala.map(n =>
      Req(n.get("id").asText, n.get("key").asText, n.get("kind").asText, n)).toIndexedSeq

  private def queryRequest(n: JsonNode): QueryRequest = QueryRequest(
    cube = "Sales",
    measures = n.get("measures").elements.asScala.map(_.asText).toSeq,
    rows = n.get("rows").elements.asScala.map(r => RowSpec(
      r.get("dimension").asText, r.get("hierarchy").asText, r.get("level").asText)).toSeq,
    filters = n.get("filters").elements.asScala.map(f => FilterSpec(Seq(f.asText))).toSeq,
    nonEmpty = n.get("non_empty").asBoolean)

  private def browseFrame(r: Req): DataFrame = {
    val t = ctx.tracer
    val members = t.span("model.members")(MemberCatalog.members(ctx.spark, ctx.data))
    t.span("model.page.lower") {
      r.kind match {
        case "browse_page" =>
          val after = Option(r.node.get("after")).filterNot(_.isNull).map(a => (a.get(0).asText, a.get(1).asText))
          MemberOps.keysetPage(members, after.map(_._1), after.map(_._2), page)
        case "browse_children" =>
          MemberOps.keysetPage(MemberOps.childrenOf(members, r.node.get("parent").asText), None, None, page)
        case "browse_search" =>
          MemberOps.keysetPage(MemberOps.search(members, r.node.get("text").asText), None, None, page)
      }
    }
  }

  private def dmvFrame(r: Req): DataFrame = ctx.tracer.span("meta.dmv.lower") {
    val s = ctx.spark
    r.node.get("rowset").asText match {
      case "cubes" => Dmv.mdschemaCubes(s)
      case "dimensions" => Dmv.mdschemaDimensions(s)
      case "hierarchies" => Dmv.mdschemaHierarchies(s)
      case "levels" => Dmv.mdschemaLevels(s)
      case "measures" => Dmv.mdschemaMeasures(s)
      case "properties" => Dmv.mdschemaProperties(s)
      case "members" => Dmv.mdschemaMembers(s, ctx.data)
          .where(col("HIERARCHY_UNIQUE_NAME") === r.node.get("hierarchy").asText)
          .orderBy(col("MEMBER_UNIQUE_NAME")).limit(page)
    }
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] = {
    val t = ctx.tracer
    if (t.enabled) t.span("spark.plan")(df.queryExecution.executedPlan)
    t.span("spark.exec")(df.collect()).toSeq.map(cells)
  }

  /** One request; returns the grid/rowset rows. Untraced pivots go
    * through `QueryService.executeForGrid`; traced ones make the same
    * calls one layer at a time. */
  private def serve(r: Req): Seq[Seq[Any]] = ctx.tracer.span(s"request.${r.kind}", r.id) {
    r.kind match {
      case "pivot" | "pivot_uncovered" | "pivot_cross" =>
        val req = queryRequest(r.node)
        if (!ctx.tracer.enabled) {
          val res = QueryService.executeForGrid(ctx.spark, ctx.data, req, page)
          res.rows.map(m => res.columns.map(c => cell(m(c.field))))
        } else {
          val t = ctx.tracer
          val mdx = t.span("service.buildMdx")(QueryService.buildMdx(req))
          val sel = t.span("mdx.parse")(MdxParser.parse(mdx))
          val df = t.span("mdx.lower")(graft.queries.Parity.outputDoubles(
            MdxLowerer.lower(ctx.spark, ctx.data, sel, SalesCube.registry, Map.empty)))
          collect(df.limit(page))
        }
      case "dmv" => collect(dmvFrame(r))
      case _ => collect(browseFrame(r))
    }
  }

  /** Registry queries of the set-up, the artifact-build ledger of the
    * whole set-up and the RDD block bytes it wrote. */
  private var registry = Seq.empty[Reg]
  private var builds = Seq.empty[(String, Double)]
  private var buildBlockBytes = 0L

  /** Registry queries run cold, as Bench's cold pass runs them: construct
    * (artifact builds happen here) → `drainBuildLog` → execute, writing
    * each output for the oracle check. SessionCache and Spark's cache are
    * cleared before each query but the last `registry_kept - 1`: the last
    * `registry_kept` queries build the artifacts the loop reads. */
  private def registryPass(outDir: String): Seq[Reg] = {
    val s = ctx.spark
    val names = ctx.plan.get("registry").elements.asScala.map(_.asText).toIndexedSeq
    val lastCleared = names.size - ctx.plan.get("registry_kept").asInt
    names.zipWithIndex.map { case (name, i) =>
      if (i <= lastCleared) { SessionCache.clear(s); s.catalog.clearCache() }
      SessionCache.drainBuildLog(s)
      val t0 = System.nanoTime()
      val df = Parity.outputDoubles(graft.SparkEntry.queries(name)(s, ctx.data))
      val constructS = (System.nanoTime() - t0) / 1e9
      val ledger = SessionCache.drainBuildLog(s)
      try df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
      finally TransientCache.releaseAll()
      val reg = Reg(name, constructS, ledger, (System.nanoTime() - t0) / 1e9, s.read.parquet(s"$outDir/$name").count())
      ctx.log(f"$name: ${reg.wallS}%.2f s, construct ${reg.constructS}%.2f s, ledger ${ledger.values.sum}%.2f s")
      reg
    }
  }

  /** Set-up on the fresh session: the cold registry pass, which builds
    * every artifact the loop reads (the direct builds after it find them
    * cached), then every request of the pool once, on `cores` threads, so
    * the loop measures serving rather than JIT and plan compilation. */
  private def prebuild(): Unit = {
    registry = registryPass(s"${ctx.work}/outputs")
    MemberCatalog.members(ctx.spark, ctx.data)
    val cube = SalesCube.cube
    cube.preAggs.foreach(pa => MdxLowerer.coveringAggregate(ctx.spark, ctx.data, cube, pa.grainCols))
    builds = registry.flatMap(_.ledger) ++ SessionCache.drainBuildLog(ctx.spark)
    ctx.drainListener()
    buildBlockBytes = ctx.listener.total.blockBytes.get
    ctx.log(f"registry pass ${registry.map(_.wallS).sum}%.2f s, artifacts built: ${builds.map(_._2).sum}%.2f s")
    parallel(reqs(ctx.plan.get("warmup")))(serve)
  }

  /** Closed loop: each client sends its next request when the previous
    * one returns, until `seconds` are up. */
  private def closedLoop(seconds: Double = ctx.seconds): (Phase, Seq[(Req, Op, Seq[Seq[Any]])], Map[String, Int]) = {
    val clients = ctx.plan.get("clients").elements.asScala.map(reqs).toIndexedSeq
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Op, Seq[Seq[Any]])]()
    val errors = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val phase = measure(clients.size) {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val threads = clients.zipWithIndex.map { case (seq, i) =>
        val th = new Thread(() => {
          var k = 0
          while (System.nanoTime() < deadline) {
            val r = seq(k % seq.size); k += 1
            val t0 = System.nanoTime()
            try {
              val rows = serve(r)
              val t1 = System.nanoTime()
              done.add((r, Op(t0, t1, (t1 - t0) / 1e6), rows))
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] ${r.id} ${r.key} failed: $e")
                errors.merge(r.key, 1, Integer.sum)
            }
          }
        }, s"client-$i")
        th.start(); th
      }
      threads.foreach(_.join())
      done.asScala.toSeq.map(_._2)
    }
    (phase, done.asScala.toSeq, errors.asScala.toMap.map { case (k, v) => k -> v.toInt })
  }

  def run(): Map[String, Any] = {
    val sessionS = ctx.startSession()
    val prebuildS = Stats.seconds(prebuild())
    val setupS = sessionS + prebuildS
    ctx.resetCounters()

    // overhead references, half as long as the traced loop each
    def untraced() = reference(endToEnd(closedLoop(ctx.seconds / 2)._1, setupS))
    val before = if (ctx.traced) Seq(untraced()) else Nil
    val (phase, done, errors) = closedLoop()

    // Outputs: the first response per request key goes to the oracle
    // check; every later response must equal it.
    val first = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    val firstCanon = mutable.Map.empty[String, Seq[String]]
    val inconsistent = mutable.ArrayBuffer.empty[String]
    done.foreach { case (r, _, rows) =>
      val c = canon(rows)
      firstCanon.get(r.key) match {
        case None => first.put(r.key, rows); firstCanon.put(r.key, c)
        case Some(prev) => if (prev != c) inconsistent += r.id
      }
    }
    val e2e = endToEnd(phase, setupS)
    val byKind = done.groupBy(_._1.kind).map { case (k, xs) => k -> xs.size }
    val result = mutable.LinkedHashMap[String, Any](
      "end_to_end" -> e2e,
      "host" -> hostFacts(phase),
      "attempted" -> (done.size + errors.values.sum),
      "errors" -> errors,
      "inconsistent" -> inconsistent.toSeq,
      "requests_by_kind" -> byKind,
      "requests_by_key" -> done.groupBy(_._1.key).map { case (k, xs) => k -> xs.size },
      "outputs" -> first.map { case (k, rows) => k -> rows },
      "registry_output_dir" -> s"${ctx.work}/outputs",
      "registry_oracle_sql" -> registry.flatMap(r => graft.SparkEntry.oracleSql.get(r.name).map(r.name -> _)).toMap,
      "registry_rows" -> registry.map(r => r.name -> r.rows).toMap,
      "setup" -> Map("session_s" -> sessionS, "registry_s" -> registry.map(_.wallS).sum,
        "prebuild_s" -> prebuildS))
    if (ctx.traced) {
      val spans = ctx.tracer.spans.asScala.toSeq
      val layers = commonLayers(phase, spans)
      def kindMs(prefix: String) = done.filter(_._1.kind.startsWith(prefix)).map(_._2.latMs)
      layers.put("model.members.page_ms_p50", Stats.median(kindMs("browse")))
      layers.put("meta.dmv.ms_p50", Stats.median(kindMs("dmv")))
      layers.put("ops.session_cache.builds", builds.size.toDouble)
      layers.put("ops.session_cache.build_s_inclusive", builds.map(_._2).sum)
      layers.put("ops.session_cache.block_write_mb", buildBlockBytes / 1e6)
      // A ledger above its query's construct time counts nested builds twice.
      val construct = registry.map(_.constructS).sum
      layers.put("queries.construct_s", construct)
      layers.put("queries.construct_excl_build_s", construct - registry.map(_.ledger.values.sum).sum)
      layers.put("queries.ledger_exceeds_construct",
        registry.count(r => r.ledger.values.sum > r.constructS).toDouble)
      result.put("ledger", registry.map(r => Map(
        "query" -> r.name, "construct_s" -> r.constructS, "wall_s" -> r.wallS,
        "build_s_inclusive" -> r.ledger.values.sum, "builds" -> r.ledger,
        "ledger_exceeds_construct" -> (r.ledger.values.sum > r.constructS))))
      writeSpans(spans, s"${ctx.work}/trace")
      layers ++= overhead(before :+ untraced(), e2e)
      result.put("layers", layers)
    }
    result.toMap
  }
}
