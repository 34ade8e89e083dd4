package graft

import graft.service.JobService
import org.scalatest.funsuite.AnyFunSuite

/** Multi-writer contention pin for the job queue (r8 verdict item 6):
  * the reference's v3 architecture is multi-writer (edge submitter +
  * runner), and JobService's idempotence claims were only ever exercised
  * single-threaded. Two REAL concurrent drainers race the same PENDING
  * backlog over one shared event log; the claim — a RUNNING event
  * published create-if-absent under its (job, generation) name — must
  * yield exactly one claim and one COMPLETED per job and generation.
  * Repeated over rounds with varying backlog sizes and a deterministic
  * stagger so the interleaving actually varies (both drainers released
  * by a barrier), and once for a requeued job, whose generation 2 the
  * drainers take from their snapshots of the log. Two requeue sweeps
  * racing on one stale claim must open exactly one next generation.
  */
class JobsConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  val mdx = "SELECT {[Measures].[sum_qty]} ON COLUMNS FROM [Sales]"

  // Warm every codegen path the drainers hit (the job's query and its
  // result write) on the MAIN thread first:
  // Janino's first compile of the same generated classes from two
  // threads at once can spuriously fail to resolve a nested-class
  // accessor (a compile-cache race, nothing to do with the claim under
  // test), and a warm cache turns the contended compiles into hits.
  private lazy val warmed: Unit = {
    val warmRoot = java.nio.file.Files
      .createTempDirectory("graft_jobs_conc_warm").toString
    val w = JobService.submit(spark, warmRoot, "SALES", mdx)
    JobService.runPending(spark, warmRoot, sf)
    assert(JobService.status(spark, warmRoot, w).get.status ==
      JobService.Completed)
  }

  // The rare residual: the JVM-wide codegen cache is small enough that
  // a parallel SUITE can evict a warmed entry mid-round, re-exposing
  // the Janino race. One retry per drainer keeps the spec about claim
  // semantics (drains are idempotent — a retried sweep re-reads the
  // same log, so every exactly-once assertion below still binds).
  private def drainWithOneRetry(root: String): Unit =
    try JobService.runPending(spark, root, sf)
    catch { case e: Throwable
      if { var c: Throwable = e; var hit = false
           while (c != null && !hit) {
             hit = c.getClass.getName.contains("CompileException"); c = c.getCause }
           hit } =>
      JobService.runPending(spark, root, sf)
    }

  /** Two drainers released by one barrier, the second `staggerMs` late;
    * each sweeps twice — anything the first pass lost to a tie must
    * already be terminal, so the second sweep must be a no-op. */
  private def race(root: String, staggerMs: Long, label: String): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        try {
          gate.await() // maximal contention: both hit the same backlog
          if (t == 2) Thread.sleep(staggerMs) // vary the interleaving
          drainWithOneRetry(root)
          drainWithOneRetry(root)
        } catch { case e: Throwable => errs.add(e) }
      }, s"drainer-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"drainer threw ($label): ${errs.peek()}")
  }

  /** The job is COMPLETED exactly once with a result; each generation in
    * `claimed` holds exactly one claim event (its fixed-name RUNNING
    * file); the log has `runnings` RUNNING rows in all, so no loser
    * appended one; and no separate claim store exists. */
  private def assertExactlyOnce(root: String, id: String, claimed: Seq[Long],
                                runnings: Long, label: String): Unit = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val events = spark.read.parquet(s"$root/job_events")
      .withColumn("file", input_file_name())
      .where(col("id") === id)
    assert(JobService.status(spark, root, id).get.status ==
      JobService.Completed, s"$id did not complete ($label)")
    val completes = events.where(col("status") === JobService.Completed).count()
    assert(completes == 1, s"$id landed COMPLETED $completes times ($label)")
    claimed.foreach { g =>
      val claims = events.where(col("status") === JobService.Running &&
        col("file").endsWith(s"/$id.running-$g.parquet")).count()
      assert(claims == 1, s"$id has $claims claim events for generation $g ($label)")
    }
    val all = events.where(col("status") === JobService.Running).count()
    assert(all == runnings, s"$id has $all RUNNING rows ($label)")
    assert(JobService.result(spark, root, id).count() > 0)
    assert(!new java.io.File(s"$root/claims").exists(),
      s"a claims/ store appeared ($label)")
  }

  test("two concurrent drainers: every job lands COMPLETED exactly once, " +
    "one claim token per job, no stray RUNNING tail") {
    warmed
    for (round <- 1 to 3) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_jobs_conc_$round").toString
      val ids = (1 to (1 + round)).map(_ =>
        JobService.submit(spark, root, "SALES", mdx))
      race(root, round * 37L, s"round $round")
      // one generation per job here, so one claim and one RUNNING row
      ids.foreach(assertExactlyOnce(root, _, Seq(1L), 1L, s"round $round"))
    }
  }

  test("two concurrent drainers race a requeued job's generation 2: " +
    "one claim, one COMPLETED") {
    warmed
    val root = java.nio.file.Files
      .createTempDirectory("graft_jobs_conc_requeued").toString
    val id = JobService.submit(spark, root, "SALES", mdx)
    // The claim a dead runner left for generation 1, written straight to
    // the public log contract (as StreamingJobRunnerSpec's orphans are).
    JobLogFixture.linkEvent(spark, root, s"$id.running-1.parquet", id, mdx,
      JobService.Running)
    assert(JobService.requeueStale(spark, root, 0) == Seq(id))
    assert(JobService.status(spark, root, id).get.attempts == 2)
    race(root, 37L, "requeued")
    // the orphan's RUNNING row plus generation 2's one claim
    assertExactlyOnce(root, id, Seq(2L), 2L, "requeued")
  }

  test("two concurrent requeue sweeps on one stale claim: one pending-(g+1), " +
    "one sweep reports it") {
    warmed
    for (round <- 1 to 3) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_jobs_conc_sweep_$round").toString
      val id = JobService.submit(spark, root, "SALES", mdx)
      JobLogFixture.linkEvent(spark, root, s"$id.running-1.parquet", id, mdx,
        JobService.Running)
      val requeued = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val threads = (1 to 2).map { t =>
        new Thread(() => {
          try {
            gate.await()
            JobService.requeueStale(spark, root, 0).foreach(requeued.add)
          } catch { case e: Throwable => errs.add(e) }
        }, s"sweeper-$t")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errs.isEmpty, s"sweeper threw (round $round): ${errs.peek()}")
      import scala.jdk.CollectionConverters._
      assert(requeued.asScala.toSeq == Seq(id), s"round $round")
      val pendings = new java.io.File(s"$root/job_events").list()
        .filter(n => n.startsWith(s"$id.pending-")).sorted.toSeq
      assert(pendings == Seq(s"$id.pending-1.parquet", s"$id.pending-2.parquet"),
        s"round $round")
      val events = spark.read.parquet(s"$root/job_events")
      assert(events.where(org.apache.spark.sql.functions.col("status") ===
        JobService.Pending).count() == 2, s"round $round")
      val j = JobService.status(spark, root, id).get
      assert(j.status == JobService.Pending && j.attempts == 2, s"round $round")
    }
  }

  test("two concurrent drainers fold two maintenance jobs into one pre-aggregate: " +
    "both COMPLETED, no delta lost") {
    warmed
    import org.apache.spark.sql.functions.col
    val cube = graft.mdx.SalesCube.cube
    val pa = cube.preAggs.find(_.name == "base").get
    def maintain(root: String, slice: Int) = JobService.submit(spark, root, "SALES",
      s"MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 = $slice")
    // Warm the fold's codegen on the main thread too (see `warmed`).
    val warmRoot = java.nio.file.Files
      .createTempDirectory("graft_jobs_conc_maint_warm").toString
    maintain(warmRoot, 2)
    JobService.runPending(spark, warmRoot, sf)
    val root = java.nio.file.Files
      .createTempDirectory("graft_jobs_conc_maint").toString
    // Disjoint slices: each drainer claims one job, and both fold into
    // Sales.base from the same (empty) prior state.
    val ids = Seq(0, 1).map(maintain(root, _))
    race(root, 0L, "maintenance")
    ids.foreach(assertExactlyOnce(root, _, Seq(1L), 1L, "maintenance"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
    val union = graft.mdx.MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
      cube.fact(spark, sf).where(col("l_orderkey") % 7 < 2))
    assert(rows(spark.read.parquet(s"$root/preagg_state/Sales.base")) == rows(union),
      "a concurrent fold lost the other job's delta")
  }
}
