package graft.service

import graft.mdx.MdxLowerer
import graft.streaming.PreAggMaintainer
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Async job lifecycle mirroring the reference's jobs table
  * (`database/migrations/002_jobs_table.sql:5-14`: id, catalog_code,
  * mdx_query, status PENDING|RUNNING|COMPLETED|FAILED, result JSON,
  * error, created/updated timestamps) and its runner state machine
  * (`backend/db_runner.py:26-103`).
  *
  * Storage is an APPEND-ONLY event log, and the log is the only job
  * state: submissions and status transitions are immutable parquet
  * files; the current state of a job is its latest event (window-latest
  * per id, [[readJobs]]). This is the scalable twin of the reference's
  * `UPDATE jobs SET status=...` — at 100 TB concurrency you never
  * rewrite a state file, you append and compact (Delta MERGE being the
  * managed form). Results are per-job parquet, keyed like the
  * reference's request-id-keyed relay files.
  *
  * THE RUNNING EVENT IS THE CLAIM (the reference's one-write
  * `UPDATE ... SET status='RUNNING' WHERE status='PENDING'`). A job's
  * generation is its count of PENDING events (the submission plus one
  * per requeue, `Job.attempts`). A runner claims generation g by
  * publishing its RUNNING event under the fixed name
  * `<id>.gen-<g>.parquet`, create-if-absent: exactly one runner per
  * generation succeeds and executes; a loser appends nothing. A runner's
  * snapshot may be stale, and the claim is still safe: RUNNING is only
  * ever written by a claim, and a requeue or the sweep's "gave up"
  * FAILED only ever follows a RUNNING event — so every non-PENDING state
  * of generation g already holds g's claim file, and a runner acting on
  * an out-of-date PENDING snapshot of g loses the create.
  *
  * Two runners drive PENDING jobs: the batch `runPending` loop and a
  * Structured Streaming `streamingRunner` (`readStream` over the
  * submission log + `foreachBatch` — SURVEY §2.10 Q2's streaming form).
  */
object JobService {

  final case class Job(
      id: String, catalog_code: String, mdx_query: String, status: String,
      error_message: String, duration_seconds: Double,
      created_at: java.sql.Timestamp, updated_at: java.sql.Timestamp,
      attempts: Long)

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
  private val eventSchema = Encoders.product[JobEvent].schema

  /** Publish one event into the log as the file `name`, create-if-absent;
    * false iff `name` already exists. */
  private def publish(spark: SparkSession, root: String, e: JobEvent,
                      name: String): Boolean = {
    import spark.implicits._
    // Concurrent appenders must never share an output-commit directory:
    // two simultaneous FileOutputCommitter jobs on one path race on the
    // SHARED `_temporary` dir — the first to finish cleans it up and
    // deletes the other's in-flight attempt (surfaced by
    // JobsConcurrencySpec as a chmod/no-such-file task failure). Each
    // event therefore commits into its own staging dir and the finished
    // part file is hard-linked into the log: `createLink` is atomic and
    // fails if the name exists (`renameTo` would silently replace it) —
    // the local-FS twin of a storage conditional put. The stat first
    // lets a lost claim skip the Spark write.
    val dir = new java.io.File(eventsPath(root))
    val target = new java.io.File(dir, name)
    if (target.exists()) return false
    dir.mkdirs()
    val stage = new java.io.File(dir.getParentFile,
      s".stage-${java.util.UUID.randomUUID()}")
    try {
      Seq(e).toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.getPath)
      val part = Option(stage.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new java.io.IOException(s"no part file in $stage"))
      java.nio.file.Files.createLink(target.toPath, part.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage)
  }

  /** The whole log. Only an absent log is empty (the first submit has not
    * landed); any other read failure propagates — an unreadable log must
    * never look like a log without jobs. */
  private def events(spark: SparkSession, root: String): DataFrame =
    if (!new java.io.File(eventsPath(root)).exists())
      spark.emptyDataset(Encoders.product[JobEvent]).toDF()
    else spark.read.schema(eventSchema).parquet(eventsPath(root))

  /** Submit: append a PENDING event, return the job id (Q1). */
  def submit(spark: SparkSession, root: String, catalogCode: String,
             mdx: String): String = {
    val id = java.util.UUID.randomUUID().toString
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    publish(spark, root,
      JobEvent(id, catalogCode, mdx, Pending, "", 0.0, now, seqGen.incrementAndGet()),
      s"$id.parquet")
    id
  }

  private def transition(spark: SparkSession, root: String, job: Job,
                         status: String, error: String = "",
                         duration: Double = 0.0,
                         name: String = s"${java.util.UUID.randomUUID()}.parquet")
      : Boolean = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    publish(spark, root, JobEvent(job.id, job.catalog_code, job.mdx_query,
      status, error, duration, now, seqGen.incrementAndGet()), name)
  }

  /** Current state: latest event per job id, with `attempts` = the job's
    * PENDING events (its claim generation and its retry count). */
  def readJobs(spark: SparkSession, root: String): DataFrame = {
    // Wall-clock first: the per-JVM seq only breaks same-millisecond ties
    // within one process — a restarted runner's counter restarts at 0, so
    // seq must never dominate cross-process ordering.
    val w = Window.partitionBy(col("id")).orderBy(desc("event_at"), desc("seq"))
    val job = Window.partitionBy(col("id"))
    events(spark, root)
      .withColumn("rn", row_number().over(w))
      .withColumn("created_at", min(col("event_at")).over(job))
      .withColumn("attempts", count(when(col("status") === Pending, 1)).over(job))
      .where(col("rn") === 1)
      .select(col("id"), col("catalog_code"), col("mdx_query"), col("status"),
        col("error_message"), col("duration_seconds"), col("created_at"),
        col("event_at").as("updated_at"), col("attempts"))
  }

  /** Poll (Q3): current status row for a job id. */
  def status(spark: SparkSession, root: String, id: String): Option[Job] = {
    import spark.implicits._
    readJobs(spark, root).where(col("id") === id).as[Job].collect().headOption
  }

  private def executeOne(spark: SparkSession, root: String, sfDir: String,
                         job: Job): Unit = {
    // Claim this snapshot's generation (see the object doc): only the
    // runner whose RUNNING event lands under the generation's name
    // executes, so COMPLETED is written at most once per generation
    // (JobsConcurrencySpec drives this under real thread contention).
    // Across generations the sweep's liveness contract applies:
    // requeueing a slow-but-alive claimant re-opens the job by design.
    if (!transition(spark, root, job, Running,
        name = s"${job.id}.gen-${job.attempts}.parquet")) return
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

  /** One maintenance run: fold ONLY the delta slice into the stored
    * aggregate ([[graft.streaming.PreAggMaintainer.fold]] — the one
    * maintained-state store, shared with the streaming maintainer) and
    * publish the state it left as the job result. The job id is the
    * fold's token: a requeued job whose fold was already published before
    * its runner died (crash between publish and COMPLETED) only
    * republishes its result, never folds its delta twice. The fold and
    * the result copy hold the state path's lock, so two drainers' jobs on
    * one aggregate run one after the other and each result is the state
    * its own fold published. */
  private def runMaintenance(spark: SparkSession, root: String, sfDir: String,
                             jobId: String, cubeName: String, paName: String,
                             predicate: String): Unit = {
    val cube = graft.mdx.SalesCube.registry.getOrElse(cubeName,
      throw new IllegalArgumentException(s"unknown cube $cubeName"))
    val pa = cube.preAggs.find(_.name == paName).getOrElse(
      throw new IllegalArgumentException(s"unknown preagg $cubeName.$paName"))
    val statePath = s"$root/preagg_state/$cubeName.$paName"
    PreAggMaintainer.locked(statePath) {
      PreAggMaintainer.fold(spark, sfDir, cube, pa, statePath,
        cube.fact(spark, sfDir).where(expr(predicate)), jobId)
      spark.read.parquet(statePath)
        .write.mode(SaveMode.Overwrite).parquet(resultPath(root, jobId))
    }
  }

  /** Crash recovery sweep: a runner that died mid-execution leaves its
    * claim as an orphaned RUNNING event (the claim cannot survive its
    * claimant). Requeue any RUNNING job whose last transition is older
    * than `staleAfterSeconds` by appending a fresh PENDING event — the
    * append-only twin of the reference runner's stale-job reset
    * (`backend/db_runner.py`'s status-machine recovery). The PENDING
    * event opens the next generation, whose claim name is still free,
    * so any runner then completes the job normally. Returns the
    * requeued ids.
    *
    * Liveness contract: `staleAfterSeconds` must exceed the longest
    * legitimate job runtime — requeueing a claim whose owner is merely
    * SLOW (not dead) re-opens the job to a second execution. Timeout-
    * based recovery cannot distinguish the two without owner heartbeats;
    * deployments running jobs longer than the sweep threshold should
    * have runners heartbeat by re-appending RUNNING. Run one sweep at a
    * time: two sweeps requeueing the same claim append two PENDING
    * events, and a runner that saw only the first claims a generation
    * the second has already passed.
    *
    * BOUNDED RETRY (ref `scanner/DGIS_SCAN_2_stable.py:152-167` — 3
    * tries, exponential spacing): a job that keeps killing its runner
    * would otherwise requeue forever. The attempt count is
    * `Job.attempts` — the log IS the retry counter. A stale claim with
    * `maxAttempts` tries transitions FAILED instead of PENDING; below the
    * cap, attempt k is only swept after `staleAfterSeconds * 2^(k-1)` —
    * the reference's 2^n backoff re-expressed on the sweep horizon. */
  def requeueStale(spark: SparkSession, root: String,
                   staleAfterSeconds: Long, maxAttempts: Int = 3): Seq[String] = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    val stale = readJobs(spark, root).where(col("status") === Running)
      .as[Job].collect().toSeq.filter { j =>
        val horizonMs =
          staleAfterSeconds * 1000L * (1L << math.min(j.attempts - 1, 16L).toInt)
        j.updated_at.getTime < now - horizonMs
      }
    stale.flatMap { j =>
      if (j.attempts >= maxAttempts) {
        transition(spark, root, j, Failed,
          error = s"gave up after ${j.attempts} attempts (max $maxAttempts)")
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
    * started query; its AvailableNow trigger drains the backlog and
    * stops. */
  def streamingRunner(spark: SparkSession, root: String, sfDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(eventSchema).parquet(eventsPath(root))
      .where(col("status") === Pending)
    stream.writeStream
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
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Completed-job result (the JSONB payload analogue). */
  def result(spark: SparkSession, root: String, id: String): DataFrame =
    spark.read.parquet(resultPath(root, id))
}
