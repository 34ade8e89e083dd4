package graft

import graft.ops.SessionCache
import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the session-lifetime cache: build-once sharing,
  * the clear() cold-measurement hook, memo's single-build race
  * semantics, the exclusive build ledger, recovery of lost artifact
  * blocks, and census visibility into artifact builds.
  *
  * Runs against a PRIVATE `newSession()` (SessionCache keys by session
  * instance): sbt runs suites in parallel in one JVM, and a clear() of
  * the shared test session would evict other suites' live artifacts
  * mid-flight — in particular it would flip CodegenCensusSpec's pinned
  * warm-state plans to their cold shapes. The toy range(5) plans here
  * collide with nobody through the plan-equality CacheManager either. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark.newSession()

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
}
