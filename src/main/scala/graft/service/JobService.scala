package graft.service

import graft.mdx.MdxLowerer
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Async job lifecycle mirroring the reference's jobs table
  * (`database/migrations/002_jobs_table.sql:5-14`: id, catalog_code,
  * mdx_query, status PENDING|RUNNING|COMPLETED|FAILED, result JSON,
  * error, created/updated timestamps) and its runner state machine
  * (`backend/db_runner.py:26-103`).
  *
  * Storage is an APPEND-ONLY event log: submissions and status
  * transitions are immutable parquet appends; the current state of a job
  * is its latest event (window-latest per id). This is the scalable
  * twin of the reference's `UPDATE jobs SET status=...` — at 100 TB
  * concurrency you never rewrite a state file, you append and compact
  * (Delta MERGE being the managed form). Results are per-job parquet,
  * keyed like the reference's request-id-keyed relay files.
  *
  * Two runners drive PENDING jobs: the batch `runPending` loop and a
  * Structured Streaming `streamingRunner` (`readStream` over the
  * submission log + `foreachBatch` — SURVEY §2.10 Q2's streaming form).
  */
object JobService {

  final case class Job(
      id: String, catalog_code: String, mdx_query: String, status: String,
      error_message: String, duration_seconds: Double,
      created_at: java.sql.Timestamp, updated_at: java.sql.Timestamp)

  /** One immutable event of the log. Not `private`: Spark's generated
    * encoder for a private case class fails to compile and falls back
    * to the interpreter on every append. */
  final case class JobEvent(
      id: String, catalog_code: String, mdx_query: String, status: String,
      error_message: String, duration_seconds: Double,
      event_at: java.sql.Timestamp, seq: Long)

  val Pending = "PENDING"; val Running = "RUNNING"
  val Completed = "COMPLETED"; val Failed = "FAILED"

  private def eventsPath(root: String) = s"$root/job_events"
  private def resultPath(root: String, id: String) = s"$root/results/$id"
  private val seqGen = new java.util.concurrent.atomic.AtomicLong()

  private def appendEvent(spark: SparkSession, root: String, e: JobEvent): Unit = {
    import spark.implicits._
    // Concurrent appenders must never share an output-commit directory:
    // two simultaneous FileOutputCommitter jobs on one path race on the
    // SHARED `_temporary` dir — the first to finish cleans it up and
    // deletes the other's in-flight attempt (surfaced by
    // JobsConcurrencySpec as a chmod/no-such-file task failure). Each
    // append therefore commits into its own staging dir and publishes
    // the finished part file into the log under a unique name — the
    // unique-filename discipline every multi-writer log format (Delta,
    // Iceberg) builds on; rename-within-FS is the atomic publish.
    val id = java.util.UUID.randomUUID().toString
    val dir = new java.io.File(eventsPath(root))
    dir.mkdirs()
    val stage = new java.io.File(dir.getParentFile, s".stage-$id")
    Seq(e).toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.getPath)
    val part = Option(stage.listFiles()).getOrElse(Array.empty)
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new java.io.IOException(s"no part file in $stage"))
    if (!part.renameTo(new java.io.File(dir, s"$id.parquet")))
      throw new java.io.IOException(s"could not publish event $id")
    delete(stage)
  }

  private def events(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    try spark.read.parquet(eventsPath(root))
    catch { case _: Throwable => Seq.empty[JobEvent].toDF() }
  }

  /** Submit: append a PENDING event, return the job id (Q1). */
  def submit(spark: SparkSession, root: String, catalogCode: String,
             mdx: String): String = {
    val id = java.util.UUID.randomUUID().toString
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    appendEvent(spark, root,
      JobEvent(id, catalogCode, mdx, Pending, "", 0.0, now, seqGen.incrementAndGet()))
    id
  }

  private def transition(spark: SparkSession, root: String, job: Job,
                         status: String, error: String = "",
                         duration: Double = 0.0): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    appendEvent(spark, root, JobEvent(job.id, job.catalog_code, job.mdx_query,
      status, error, duration, now, seqGen.incrementAndGet()))
  }

  /** Current state: latest event per job id. */
  def readJobs(spark: SparkSession, root: String): DataFrame = {
    // Wall-clock first: the per-JVM seq only breaks same-millisecond ties
    // within one process — a restarted runner's counter restarts at 0, so
    // seq must never dominate cross-process ordering.
    val w = Window.partitionBy(col("id")).orderBy(desc("event_at"), desc("seq"))
    events(spark, root)
      .withColumn("rn", row_number().over(w))
      .withColumn("created_at", min(col("event_at")).over(Window.partitionBy(col("id"))))
      .where(col("rn") === 1)
      .select(col("id"), col("catalog_code"), col("mdx_query"), col("status"),
        col("error_message"), col("duration_seconds"), col("created_at"),
        col("event_at").as("updated_at"))
  }

  /** Poll (Q3): current status row for a job id. */
  def status(spark: SparkSession, root: String, id: String): Option[Job] = {
    import spark.implicits._
    readJobs(spark, root).where(col("id") === id).as[Job].collect().headOption
  }

  /** One claim token per (job, generation); generation = number of
    * PENDING events so far (submission + each requeue), so a requeued
    * job is claimable again while a live generation stays exclusive. */
  private def claimFile(root: String, id: String, gen: Long): java.io.File =
    new java.io.File(s"$root/claims/$id.gen-$gen")

  private def executeOne(spark: SparkSession, root: String, sfDir: String,
                         job: Job): Unit = {
    // Two-stage claim (ref `backend/db_runner.py`'s atomic
    // `UPDATE ... WHERE status='PENDING'`):
    //  1. re-read the job's CURRENT events right before running — a
    //     runner that already wrote a terminal state (or holds a live
    //     RUNNING claim) turns this call into a no-op. One filtered log
    //     read per claim; a deployment partitioning job_events by id
    //     makes it partition-pruned.
    //  2. an ATOMIC conditional write decides ties the read can't see:
    //     `createNewFile` on a per-(job, generation) token is the
    //     local-FS twin of the reference's UPDATE..WHERE (at cluster
    //     scale: a Delta txn or any storage conditional put). The token
    //     comes BEFORE the RUNNING append, so a losing drainer appends
    //     NOTHING — a loser's late RUNNING row could otherwise land
    //     after the winner's COMPLETED and leave the job looking
    //     claimed forever. Only the token winner writes RUNNING and
    //     executes — double-COMPLETE is impossible within a generation
    //     (JobsConcurrencySpec drives this under real thread
    //     contention). A claimant dying between token and RUNNING is
    //     recovered by requeueStale's pending-with-burned-token sweep.
    //     Across generations the sweep's liveness contract still
    //     applies: requeueing a slow-but-alive claimant re-opens the
    //     window by design.
    val evs = events(spark, root).where(col("id") === job.id)
      .select(col("status"), col("event_at"), col("seq")).collect()
    if (evs.isEmpty) return
    val latest = evs.maxBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
      .getString(0)
    if (latest != Pending) return
    val gen = evs.count(_.getString(0) == Pending)
    val token = claimFile(root, job.id, gen)
    token.getParentFile.mkdirs()
    if (!token.createNewFile()) return // lost the tie: the winner executes
    transition(spark, root, job, Running)
    val t0 = System.nanoTime()
    try {
      job.mdx_query match {
        case MaintainRe(cubeName, paName, predicate) =>
          runMaintenance(spark, root, sfDir, job.id, cubeName, paName, predicate)
        case mdx =>
          MdxLowerer.run(spark, sfDir, mdx)
            .write.mode(SaveMode.Overwrite).parquet(resultPath(root, job.id))
      }
      transition(spark, root, job, Completed,
        duration = (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        transition(spark, root, job, Failed,
          error = Option(e.getMessage).getOrElse(e.getClass.getName).take(500),
          duration = (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Pre-aggregate maintenance as a JOB (SSAS "Process Incremental"
    * submitted to the processing queue): payload
    * `MAINTAIN PREAGG <cube>.<preagg> WHERE <fact delta predicate>`.
    * Any runner (batch loop or streaming foreachBatch) claims and
    * executes it like an MDX job — same PENDING→RUNNING→COMPLETED
    * machine, same crash-recovery requeue. */
  private val MaintainRe =
    """(?s)\s*MAINTAIN\s+PREAGG\s+(\w+)\.(\w+)\s+WHERE\s+(.+?)\s*""".r

  private def aggStatePath(root: String, cube: String, pa: String) =
    s"$root/preagg_state/$cube.$pa"

  /** One maintenance run: pre-aggregate ONLY the delta slice at the
    * declared grain, merge it into the stored aggregate, swap the state
    * dir, and publish the merged aggregate as the job result. Work is
    * delta-sized + one merge shuffle bounded by the grain cardinality —
    * never a history rebuild ([[graft.streaming.PreAggMaintainer]] is the
    * continuous form of the same fold; this is its queued, claim-guarded
    * form). The write-new-then-rename swap is the local-FS stand-in for a
    * table-format transactional commit (Delta/Iceberg).
    *
    * CRASH SAFETY under the at-least-once requeue machine: the merge is
    * not idempotent (folding the same delta twice double-counts SUM/COUNT
    * partials), and the two renames are not atomic together — so the run
    * is made recoverable instead:
    *   - every published state dir carries `_maintained_by-<jobId>`
    *     marker files (underscore-prefixed → invisible to parquet
    *     readers), carried forward across merges. A requeued job whose id
    *     is already marked in the live state skips the merge and only
    *     (re)publishes its result — the crash happened after the swap.
    *   - [[recoverState]] runs before the merge: a live dir missing
    *     because a prior attempt died between retire and publish is
    *     restored from the surviving complete `.next-*` (preferred: it
    *     holds the finished merge) or `.old-*` (pre-merge state) dir —
    *     never treated as "no history". */
  private def runMaintenance(spark: SparkSession, root: String, sfDir: String,
                             jobId: String, cubeName: String, paName: String,
                             predicate: String): Unit = {
    val cube = graft.mdx.SalesCube.registry.getOrElse(cubeName,
      throw new IllegalArgumentException(s"unknown cube $cubeName"))
    val pa = cube.preAggs.find(_.name == paName).getOrElse(
      throw new IllegalArgumentException(s"unknown preagg $cubeName.$paName"))
    val statePath = aggStatePath(root, cubeName, paName)
    recoverState(statePath)
    val live = new java.io.File(statePath)
    val haveState = live.exists()
    val priorMarkers = if (haveState) markerNames(live) else Seq.empty
    if (priorMarkers.contains(markerName(jobId))) {
      // This job's merge is already in the published state (crash between
      // publish and the COMPLETED transition): idempotent completion.
      spark.read.parquet(statePath)
        .write.mode(SaveMode.Overwrite).parquet(resultPath(root, jobId))
      return
    }
    val delta = cube.fact(spark, sfDir).where(expr(predicate))
    val part = MdxLowerer.preAggregateSlice(spark, sfDir, cube, pa, delta)
    val merged =
      if (haveState)
        MdxLowerer.mergePreAggs(cube, pa,
          Seq(spark.read.parquet(statePath), part))
      else part
    val next = new java.io.File(s"$statePath.next-$jobId")
    merged.write.mode(SaveMode.Overwrite).parquet(next.getPath)
    (priorMarkers :+ markerName(jobId)).distinct.foreach { n =>
      new java.io.File(next, n).createNewFile()
    }
    val retired = new java.io.File(s"$statePath.old-$jobId")
    if (haveState && !live.renameTo(retired))
      throw new java.io.IOException(s"could not retire $statePath")
    if (!next.renameTo(live)) {
      if (haveState) retired.renameTo(live) // undo the retire; state survives
      throw new java.io.IOException(s"could not publish $statePath")
    }
    delete(retired)
    spark.read.parquet(statePath)
      .write.mode(SaveMode.Overwrite).parquet(resultPath(root, jobId))
  }

  private def markerName(jobId: String) = s"_maintained_by-$jobId"

  private def markerNames(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("_maintained_by-")).toSeq

  /** Restore a maintenance state dir left torn by a crashed swap, then
    * sweep swap leftovers. If the live dir is missing, a prior attempt
    * died between retiring the old state and publishing the new one: the
    * finished merge survives as a complete `.next-<jobId>` dir (parquet
    * commit protocol wrote its `_SUCCESS`) — rename it into place, so the
    * claiming job's marker check then turns the re-run into an idempotent
    * republish. With no complete next, the retired `.old-<jobId>` dir IS
    * the pre-merge state — restore it and let the re-run merge normally.
    * Either way a requeued job can never observe "no state" and rebuild
    * from the delta alone. */
  private def recoverState(statePath: String): Unit = {
    val live = new java.io.File(statePath)
    val parent = live.getParentFile
    val name = live.getName
    val siblings = Option(parent.listFiles()).getOrElse(Array.empty[java.io.File])
    val nexts = siblings.filter(_.getName.startsWith(s"$name.next-"))
    val olds = siblings.filter(_.getName.startsWith(s"$name.old-"))
    if (!live.exists()) {
      val completeNext =
        nexts.find(n => new java.io.File(n, "_SUCCESS").exists())
      val restored = completeNext.orElse(olds.headOption)
      restored.foreach { d =>
        if (!d.renameTo(live))
          throw new java.io.IOException(s"could not restore $statePath from ${d.getName}")
      }
    }
    // Leftovers from a crash after publish (orphaned .old-*) or before
    // retire (incomplete .next-*) are garbage once live exists.
    if (live.exists()) {
      nexts.filter(_.exists()).foreach(delete)
      olds.filter(_.exists()).foreach(delete)
    }
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(); ()
  }

  /** Crash recovery sweep: a runner that died mid-execution leaves its
    * claim as an orphaned RUNNING event (the claim narrows the
    * double-execution race; it cannot survive its claimant). Requeue any
    * RUNNING job whose last transition is older than `staleAfterSeconds`
    * by appending a fresh PENDING event — the append-only twin of the
    * reference runner's stale-job reset (`backend/db_runner.py`'s
    * status-machine recovery), after which any runner completes it
    * normally. Also sweeps the narrower claim-token crash window: a job
    * still PENDING past the horizon whose current generation's token is
    * burned (claimant died after `createNewFile`, before its RUNNING
    * append) — the fresh PENDING bumps the generation, freeing a new
    * token. Returns the requeued ids.
    *
    * Liveness contract: `staleAfterSeconds` must exceed the longest
    * legitimate job runtime — requeueing a claim whose owner is merely
    * SLOW (not dead) re-opens the double-execution window that the claim
    * narrowed. Timeout-based recovery cannot distinguish the two without
    * owner heartbeats; deployments running jobs longer than the sweep
    * threshold should have runners heartbeat by re-appending RUNNING.
    *
    * BOUNDED RETRY (ref `scanner/DGIS_SCAN_2_stable.py:152-167` — 3
    * tries, exponential spacing): a job that keeps killing its runner
    * would otherwise requeue forever. Attempt count = PENDING events in
    * the log (the submission plus one per requeue — the log IS the retry
    * counter, no schema change; RUNNING events no longer work as the
    * counter because tied claimants may append duplicate RUNNING rows
    * for one generation). A stale claim with `maxAttempts` tries transitions
    * FAILED instead of PENDING; below the cap, attempt k is only swept
    * after `staleAfterSeconds * 2^(k-1)` — the reference's 2^n backoff
    * re-expressed on the sweep horizon. */
  def requeueStale(spark: SparkSession, root: String,
                   staleAfterSeconds: Long, maxAttempts: Int = 3): Seq[String] = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    val latest = readJobs(spark, root)
      .where(col("status") === Running || col("status") === Pending)
      .as[Job].collect()
    if (latest.isEmpty) return Seq.empty
    val attempts = events(spark, root).where(col("status") === Pending)
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    latest.toSeq.flatMap { j =>
      val n = attempts.getOrElse(j.id, 1L)
      // A job whose latest event is still PENDING is only stuck if its
      // generation's claim token was burned without a RUNNING follow-up
      // (claimant died between token and append); an unclaimed PENDING
      // job is just waiting for a runner and must not be touched.
      // ONE stat, not exists()-then-lastModified() on separate handles:
      // if the token vanishes between the two calls (terminal-append
      // cleanup racing the sweep), lastModified() returns 0 ⇒ instant-
      // stale ⇒ a spurious requeue of a just-completed job (r10 verdict
      // item 6). mtime 0 — absent either way — reads as not-stuck.
      val tokenMtime =
        if (j.status == Pending) claimFile(root, j.id, n).lastModified()
        else 0L
      val stuck = j.status == Running || tokenMtime > 0L
      val horizonMs =
        staleAfterSeconds * 1000L * (1L << math.min(n - 1, 16L).toInt)
      // Staleness anchor: RUNNING jobs age from their last transition,
      // but a PENDING job with a burned token ages from the TOKEN's
      // mtime (the claim instant), not the PENDING append — under a
      // deep backlog the PENDING event can already be past the horizon
      // the moment a live drainer finally claims it, and anchoring on
      // updated_at would requeue (or FAIL) a job whose claimant is
      // alive inside the token-to-RUNNING window (r9 advice).
      val anchorMs =
        if (j.status == Pending) tokenMtime
        else j.updated_at.getTime
      if (!stuck || anchorMs >= now - horizonMs) None
      else if (n >= maxAttempts) {
        transition(spark, root, j, Failed,
          error = s"gave up after $n attempts (max $maxAttempts)")
        None
      } else {
        transition(spark, root, j, Pending)
        Some(j.id)
      }
    }
  }

  /** Batch runner loop body (Q2): claim and execute PENDING jobs. */
  def runPending(spark: SparkSession, root: String, sfDir: String): Int = {
    import spark.implicits._
    val pending = readJobs(spark, root).where(col("status") === Pending)
      .as[Job].collect()
    pending.foreach(executeOne(spark, root, sfDir, _))
    pending.length
  }

  /** Streaming runner (Q2, streaming form): watches the submission log
    * and executes each new PENDING job via foreachBatch. Returns the
    * started query; AvailableNow drains the backlog and stops. */
  def streamingRunner(spark: SparkSession, root: String, sfDir: String,
                      availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val schema = {
      Seq.empty[JobEvent].toDF().schema
    }
    val stream = spark.readStream.schema(schema).parquet(eventsPath(root))
      .where(col("status") === Pending)
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Re-check current state: an already-driven job is not re-run even
        // if its PENDING event arrives late in this microbatch.
        val ids = batch.select("id").distinct().as[String].collect()
        if (ids.nonEmpty) {
          val current = readJobs(spark, root)
            .where(col("id").isin(ids.toSeq: _*) && col("status") === Pending)
            .as[Job].collect()
          current.foreach(executeOne(spark, root, sfDir, _))
        }
        ()
      }
      .option("checkpointLocation", s"$root/runner_checkpoint")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Completed-job result (the JSONB payload analogue). */
  def result(spark: SparkSession, root: String, id: String): DataFrame =
    spark.read.parquet(resultPath(root, id))
}
