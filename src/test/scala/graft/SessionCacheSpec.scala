package graft

import graft.ops.{MemberOps, SessionCache}
import graft.service.QueryService
import graft.service.QueryService.{QueryRequest, RowSpec}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Contract tests for the session-lifetime cache: build-once sharing,
  * the clear() cold-measurement hook, single-flight builds of a key
  * that racing threads miss, the exclusive build ledger, recovery of
  * lost artifact blocks, census visibility into artifact builds, and the
  * serving readers' one-partition reads of small artifacts.
  *
  * Runs against a PRIVATE `newSession()` (SessionCache keys by session
  * instance): sbt runs suites in parallel in one JVM, and a clear() of
  * the shared test session would evict other suites' live artifacts
  * mid-flight — in particular it would flip CodegenCensusSpec's pinned
  * warm-state plans to their cold shapes. The toy range(5) plans here
  * collide with nobody through the plan-equality CacheManager either. */
class SessionCacheSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark.newSession()
  val sf = "/root/testdata/sf0.001"

  /** The Spark jobs `body` runs on this thread, and the task count of
    * each of their stages, read through a job group. A sentinel job of
    * another group runs after `body`: the listener bus is FIFO, so once
    * the sentinel's stage is seen, every event of `body` has been too. */
  private def jobsOf(s: SparkSession)(body: => Unit): (Int, Seq[Int]) = {
    val rec = new Bench.Recorder
    val sc = s.sparkContext
    sc.addSparkListener(rec)
    val group = s"sessioncachespec-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)))(assert(rec.stats(sentinel)._2.nonEmpty))
      val (jobs, stages) = rec.stats(group)
      (jobs, stages.map(_.tasks))
    } finally sc.removeSparkListener(rec)
  }

  test("getOrBuild builds once, shares, and rebuilds after clear") {
    var builds = 0
    def build() = { builds += 1; spark.range(5).toDF("n") }
    val key = "sessioncachespec:gob"
    val a = SessionCache.getOrBuild(spark, key)(build())
    val b = SessionCache.getOrBuild(spark, key)(build())
    assert(builds == 1, "second access must reuse the cached table")
    assert(a.collect().length == 5 && (a eq b))
    SessionCache.clear(spark)
    val c = SessionCache.getOrBuild(spark, key)(build())
    assert(builds == 2, "clear() must force a rebuild")
    assert(c.collect().length == 5)
    SessionCache.clear(spark)
  }

  test("memo builds once and survives value reads; clear evicts") {
    var builds = 0
    val key = "sessioncachespec:memo"
    def v() = SessionCache.memo(spark, key) { builds += 1; 42 }
    assert(v() == 42 && v() == 42 && builds == 1)
    SessionCache.clear(spark)
    assert(v() == 42 && builds == 2, "clear() must evict memo values")
    SessionCache.clear(spark)
  }

  test("two threads that miss one key at once run its build once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val latch = new java.util.concurrent.CountDownLatch(2)
    val key = "sessioncachespec:race"
    // Each build waits for a second one: racing builds meet at the latch
    // and both finish; a single-flight build times out alone.
    def build() = {
      builds.incrementAndGet()
      latch.countDown()
      latch.await(3, java.util.concurrent.TimeUnit.SECONDS)
      spark.range(5).toDF("n")
    }
    val threads = Seq.fill(2)(new Thread(() => SessionCache.getOrBuild(spark, key)(build()).count()))
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(builds.get == 1, s"${builds.get} builds of one key")
    assert(SessionCache.stored(spark).contains(key))
    SessionCache.clear(spark)
  }

  test("a build that throws leaves no entry, and the next caller builds") {
    val key = "sessioncachespec:throws"
    assertThrows[IllegalStateException](
      SessionCache.getOrBuild(spark, key)(throw new IllegalStateException("build failed")))
    assert(!SessionCache.stored(spark).contains(key))
    assert(SessionCache.getOrBuild(spark, key)(spark.range(3).toDF("n")).count() == 3)
    SessionCache.clear(spark)
  }

  test("a nested build's time is charged once, to its own key") {
    // Own session: drainBuildLog is per session, so no other suite's
    // builds land in this ledger.
    val s = SparkTestSession.spark.newSession()
    SessionCache.drainBuildLog(s)
    val t0 = System.nanoTime()
    SessionCache.getOrBuild(s, "sessioncachespec:outer") {
      Thread.sleep(200)
      val inner = SessionCache.getOrBuild(s, "sessioncachespec:inner") {
        Thread.sleep(400)
        s.range(3).toDF("n")
      }
      inner.select((col("n") + 1).as("n"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val log = SessionCache.drainBuildLog(s)
    assert(log.keySet == Set("sessioncachespec:outer", "sessioncachespec:inner"))
    assert(log("sessioncachespec:inner") >= 0.4 && log("sessioncachespec:outer") >= 0.2)
    assert(log.values.sum <= wall, s"the nested build was charged twice: $log within $wall s")
    SessionCache.clear(s)
  }

  test("a consumer recomputes an artifact whose cached blocks were lost") {
    val key = "sessioncachespec:recover"
    val art = SessionCache.getOrBuild(spark, key)(
      spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k"))
    def read() = art.where(col("k") === 3).select("id").collect().map(_.getLong(0)).toSet
    val want = read()
    assert(want.size == 143)
    // The artifact's own cached RDDs, not every persisted RDD in the
    // shared SparkContext: other suites' blocks must stay untouched.
    val ids = art.queryExecution.analyzed.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }
    assert(ids.nonEmpty, "consumer plan is not the cached leaf")
    val master = SparkEnv.get.blockManager.master
    def blocks() = master.getMatchingBlockIds({
      case RDDBlockId(id, _) => ids.contains(id)
      case _ => false
    }, askStorageEndpoints = true)
    assert(blocks().nonEmpty, "artifact was not materialized")
    ids.foreach(id => master.removeRdd(id, blocking = true))
    assert(blocks().isEmpty, "blocks were not removed")
    assert(read() == want, "lost blocks must be recomputed from lineage")
    SessionCache.clear(spark)
  }

  test("the census sees a cartesian product and a serial window inside an artifact build") {
    // Own session: auto-broadcast off keeps the cross join a
    // CartesianProduct instead of a broadcast nested-loop join.
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val art = SessionCache.getOrBuild(s, "sessioncachespec:census") {
      val a = s.range(0, 40, 1, 2).toDF("a")
      val b = s.range(0, 3, 1, 1).toDF("b")
      a.crossJoin(b).withColumn("rn", row_number().over(Window.orderBy(col("a"), col("b"))))
    }
    val consumer = art.where(col("rn") > 3).select("a")
    assert(consumer.count() == 117)
    val plan = consumer.queryExecution.executedPlan
    assert(plan.toString.contains("CartesianProduct"),
      s"artifact build plan not visible to the consumer:\n$plan")
    assert(WindowAudit.windowShapes(plan).count(_.arity == 0) >= 1,
      s"serial window inside the artifact not counted:\n$plan")
    SessionCache.clear(s)
  }

  test("a covered pivot runs one Spark job and plans no Exchange") {
    val req = QueryRequest("Sales", Seq("sum_qty", "count_order"),
      Seq(RowSpec("[Customer]", "[Customer].[Geo]", "Nation")))
    QueryService.executeForGrid(spark, sf, req) // builds the pre-aggregate
    val (jobs, tasks) = jobsOf(spark)(assert(QueryService.executeForGrid(spark, sf, req).rowCount == 25))
    assert(jobs == 1 && tasks == Seq(1), s"$jobs jobs, tasks per stage $tasks")
    val df = QueryService.execute(spark, sf, req).limit(1000)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"covered pivot plans an Exchange:\n$plan")
    val base = graft.mdx.SalesCube.cube.preAggs.find(_.name == "base").get
    val baseKey = s"preagg:${graft.mdx.MdxLowerer.preAggKey(graft.mdx.SalesCube.cube, base)}:$sf"
    val stored = SessionCache.stored(spark).collect { case (k, e) if k == baseKey => e }
    assert(stored.size == 1 && stored.head.onePartition && stored.head.partitions > 1,
      "the pre-aggregate is stored in its partitions and served as one")
  }

  test("a keyset page over the member catalog runs one Spark job") {
    graft.model.MemberCatalog.members(spark, sf).count()
    val (jobs, tasks) = jobsOf(spark) {
      val page = MemberOps.keysetPage(graft.model.MemberCatalog.members(spark, sf), None, None, 100)
      assert(page.collect().length == 100)
    }
    assert(jobs == 1 && tasks == Seq(1), s"$jobs jobs, tasks per stage $tasks")
  }

  test("an artifact above the bound keeps its stored partitions and gets no Coalesce") {
    // Two uncompressible double columns: 16 bytes a row stored.
    val rows = SessionCache.SmallBytes / 16 * 5 / 4
    val big = SessionCache.serve(spark, "sessioncachespec:big")(
      spark.range(0, rows, 1, 4).select(rand(1).as("a"), rand(2).as("b")))
    val e = SessionCache.stored(spark)("sessioncachespec:big")
    assert(e.bytes > SessionCache.SmallBytes && e.partitions > 1 && !e.onePartition)
    val plan = big.groupBy().agg(sum(col("a"))).queryExecution.executedPlan
    assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, s"a large artifact is coalesced:\n$plan")
    assert(big.rdd.getNumPartitions == e.partitions)
    val small = SessionCache.serve(spark, "sessioncachespec:small")(spark.range(0, 100, 1, 4).toDF("n"))
    assert(small.rdd.getNumPartitions == 1 && SessionCache.stored(spark)("sessioncachespec:small").onePartition)
    SessionCache.clear(spark)
  }

  test("a join of the served pre-aggregate with lineitem keeps the fact side parallel") {
    // Own session: no broadcast and no AQE coalescing, so the join is a
    // shuffle join whose partition count the one-partition side could
    // otherwise drag down to one.
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val cube = graft.mdx.SalesCube.cube
    val agg = graft.mdx.MdxLowerer.coveringAggregate(s, sf, cube, Seq("order_year", "order_month")).get
      .groupBy("order_year").agg(sum("count_order").as("n_year"))
    val fact = Tables.lineitem(s, sf).select(year(col("l_shipdate")).as("order_year"), col("l_quantity"))
    val joined = fact.join(agg, "order_year")
    val (_, tasks) = jobsOf(s)(assert(joined.count() > 0))
    assert(tasks.exists(_ > 1), s"the join ran in one task: tasks per stage $tasks")
    SessionCache.clear(s)
  }
}
