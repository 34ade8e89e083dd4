package graft.service

import graft.mdx.MdxLowerer
import graft.streaming.PreAggMaintainer
import org.apache.commons.io.FileUtils
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, StructType}

/** Async job lifecycle mirroring the reference's jobs table
  * (`database/migrations/002_jobs_table.sql:5-14`: id, catalog_code,
  * mdx_query, status PENDING|RUNNING|COMPLETED|FAILED, result JSON,
  * error, created/updated timestamps) and its runner state machine
  * (`backend/db_runner.py:26-103`).
  *
  * Storage is an APPEND-ONLY event log, and the log is the only job
  * state: every submission and status transition is an immutable
  * one-row parquet file in `job_events/`. This is the scalable twin of
  * the reference's `UPDATE jobs SET status=...` — you never rewrite a
  * state file, you append. Nothing compacts the log: it only grows
  * (three files per job, more on a requeue), and bounding it is an open
  * residual (ROADMAP item 3). Results are per-job parquet, keyed like
  * the reference's request-id-keyed relay files: an MDX job writes its
  * rows, and a maintenance job hard-links the files of the state
  * generation its fold published.
  *
  * THE LOG CONTRACT IS THE FILE NAMES. Every event of job `id` is named
  * `<id>.<phase>-<g>.parquet`: phase `pending`, `running` or `done`, and
  * `g` the job's generation — 1 for the submission, plus one per
  * requeue (`Job.attempts`). Each name is created create-if-absent: the
  * event is written to a temp file beside the log and hard-linked in,
  * and the link fails if the name exists (the local-FS twin of a
  * storage conditional put). So:
  *  - `running-g` IS THE CLAIM (the reference's one-write `UPDATE ...
  *    SET status='RUNNING' WHERE status='PENDING'`): exactly one runner
  *    per generation links it and executes; a loser appends nothing;
  *  - `done-g` lands COMPLETED or FAILED at most once per generation;
  *  - `pending-(g+1)` lands a requeue at most once.
  * A job's current state is its highest (g, phase) name ([[heads]], the
  * one rule `status`, `runPending`, `requeueStale`, the streaming
  * runner and [[readJobs]] share), so finding a job's state is a
  * directory listing, and the driver reads only the files of the jobs
  * it acts on. A runner's listing may be stale and the claim is still
  * safe: `running-g` is only ever linked by a claim, and a requeue or a
  * sweep's "gave up" FAILED only ever follows it — so every state past
  * PENDING of generation g already holds g's claim name, and a runner
  * acting on an out-of-date PENDING of g loses the link.
  *
  * Event files are written and read with parquet-hadoop on the driver:
  * nothing on the job path runs a Spark job but an MDX job's query and
  * its result write, or a maintenance job's fold.
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

  /** One immutable event of the log: the one row of one event file. */
  private final case class JobEvent(
      id: String, catalog_code: String, mdx_query: String, status: String,
      error_message: String, duration_seconds: Double,
      event_at: java.sql.Timestamp, seq: Long)

  val Pending = "PENDING"; val Running = "RUNNING"
  val Completed = "COMPLETED"; val Failed = "FAILED"

  private def eventsPath(root: String) = s"$root/job_events"
  private def resultPath(root: String, id: String) = s"$root/results/$id"
  private val seqGen = new java.util.concurrent.atomic.AtomicLong()

  /** The log's columns as Spark reads them. */
  val eventSchema: StructType = Encoders.product[JobEvent].schema

  /** One event file's parquet schema: the physical types Spark writes for
    * [[eventSchema]] with the session's TIMESTAMP_MICROS output, so Spark
    * and DuckDB read the log as they always have. */
  private val eventType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary id (STRING);
      |  optional binary catalog_code (STRING);
      |  optional binary mdx_query (STRING);
      |  optional binary status (STRING);
      |  optional binary error_message (STRING);
      |  required double duration_seconds;
      |  optional int64 event_at (TIMESTAMP(MICROS,true));
      |  required int64 seq;
      |}""".stripMargin)

  /** A generation's phases in order; COMPLETED and FAILED share `done`. */
  private val phases = Vector("pending", "running", "done")
  private val EventName = s"""(.+)\\.(${phases.mkString("|")})-(\\d+)\\.parquet""".r

  /** The name of job `id`'s `status` event in generation `gen`. */
  private def eventName(id: String, status: String, gen: Long): String = {
    val phase = status match {
      case Pending => "pending"; case Running => "running"; case _ => "done"
    }
    s"$id.$phase-$gen.parquet"
  }

  /** A job's current event file, and its generation and phase. */
  private final case class Head(id: String, gen: Long, phase: Int, name: String)

  /** THE RULE for current state: per job, its highest (generation, phase)
    * among `names`; the generation is the job's `attempts`. */
  private def heads(names: Iterable[String]): Map[String, Head] =
    names.collect { case n @ EventName(id, p, g) => Head(id, g.toLong, phases.indexOf(p), n) }
      .groupBy(_.id).map { case (id, hs) => id -> hs.maxBy(h => (h.gen, h.phase)) }

  /** The log's file names. Only an absent log is empty (the first submit
    * has not landed); a log that cannot be listed throws — an unreadable
    * log must never look like a log without jobs. */
  private def names(root: String): Seq[String] = {
    val dir = new java.io.File(eventsPath(root))
    if (!dir.exists()) Nil
    else Option(dir.list()).map(_.toSeq)
      .getOrElse(throw new java.io.IOException(s"cannot list $dir"))
  }

  /** Publish one event into the log as the file `name`, create-if-absent;
    * false iff `name` already exists. The stat first lets a lost claim
    * skip the write. */
  private def publish(root: String, e: JobEvent, name: String): Boolean = {
    val dir = new java.io.File(eventsPath(root))
    val target = new java.io.File(dir, name)
    if (target.exists()) return false
    dir.mkdirs()
    val tmp = new java.io.File(root, s".event-${java.util.UUID.randomUUID()}.parquet")
    try {
      val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp.toPath))
        .withConf(new PlainParquetConfiguration()).withType(eventType).build()
      try w.write(new SimpleGroup(eventType)
        .append("id", e.id).append("catalog_code", e.catalog_code)
        .append("mdx_query", e.mdx_query).append("status", e.status)
        .append("error_message", e.error_message)
        .append("duration_seconds", e.duration_seconds)
        .append("event_at", e.event_at.getTime * 1000L).append("seq", e.seq))
      finally w.close()
      java.nio.file.Files.createLink(target.toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally tmp.delete()
  }

  /** Open a local parquet file on the driver. A plain (not Hadoop)
    * configuration, here and in [[publish]]: loading a Hadoop
    * `Configuration` per file took ten times the read itself. */
  private def openParquet(path: java.nio.file.Path): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(path),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())

  /** Read one event file on the driver. A corrupt file throws. */
  private def read(root: String, name: String): JobEvent = {
    val r = openParquet(java.nio.file.Paths.get(eventsPath(root), name))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val g: Group = new ColumnIOFactory().getColumnIO(schema)
        .getRecordReader(r.readNextRowGroup(), new GroupRecordConverter(schema)).read()
      def str(f: String) = if (g.getFieldRepetitionCount(f) == 0) null else g.getString(f, 0)
      JobEvent(str("id"), str("catalog_code"), str("mdx_query"), str("status"),
        str("error_message"), g.getDouble("duration_seconds", 0),
        new java.sql.Timestamp(g.getLong("event_at", 0) / 1000L), g.getLong("seq", 0))
    } finally r.close()
  }

  /** The job behind a head: its current event, plus its submission for
    * `created_at`. */
  private def job(root: String, h: Head): Job = {
    val e = read(root, h.name)
    val first = eventName(h.id, Pending, 1)
    val created = if (h.name == first) e.event_at else read(root, first).event_at
    Job(h.id, e.catalog_code, e.mdx_query, e.status, e.error_message,
      e.duration_seconds, created, e.event_at, h.gen)
  }

  /** Submit: append the job's `pending-1` event, return the job id (Q1). */
  def submit(spark: SparkSession, root: String, catalogCode: String,
             mdx: String): String = {
    val id = java.util.UUID.randomUUID().toString
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    publish(root,
      JobEvent(id, catalogCode, mdx, Pending, "", 0.0, now, seqGen.incrementAndGet()),
      eventName(id, Pending, 1))
    id
  }

  /** Append `job`'s `status` event of generation `gen`, create-if-absent. */
  private def transition(root: String, job: Job, status: String, gen: Long,
                         error: String = "", duration: Double = 0.0): Boolean = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    publish(root, JobEvent(job.id, job.catalog_code, job.mdx_query,
      status, error, duration, now, seqGen.incrementAndGet()),
      eventName(job.id, status, gen))
  }

  /** Current state of every job, one row each (the columns of [[Job]]):
    * the rule picks each job's current file from the names, and Spark
    * reads the log's rows of those files and of the jobs' submissions. */
  def readJobs(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val hs = heads(names(root)).values.toSeq
    if (hs.isEmpty) return spark.emptyDataset[Job].toDF()
    val ev = spark.read.schema(eventSchema).parquet(eventsPath(root))
      .withColumn("name", regexp_extract(input_file_name(), "[^/]+$", 0))
    val created = ev.join(hs.map(h => eventName(h.id, Pending, 1)).toDF("name"), "name")
      .select(col("id"), col("event_at").as("created_at"))
    ev.join(hs.map(h => (h.name, h.gen)).toDF("name", "attempts"), "name")
      .join(created, Seq("id"), "left")
      .select(col("id"), col("catalog_code"), col("mdx_query"), col("status"),
        col("error_message"), col("duration_seconds"), col("created_at"),
        col("event_at").as("updated_at"), col("attempts"))
  }

  /** Poll (Q3): current status row for a job id. Lists the log and reads
    * only this job's current file and its submission. */
  def status(spark: SparkSession, root: String, id: String): Option[Job] =
    heads(names(root).filter(_.startsWith(s"$id."))).get(id).map(job(root, _))

  private def executeOne(spark: SparkSession, root: String, sfDir: String,
                         job: Job): Unit = {
    // Claim this snapshot's generation (see the object doc): only the
    // runner whose `running-g` name lands executes, and COMPLETED or
    // FAILED lands at most once per generation under `done-g`
    // (JobsConcurrencySpec drives this under real thread contention).
    // Across generations the sweep's liveness contract applies:
    // requeueing a slow-but-alive claimant re-opens the job by design.
    val g = job.attempts
    if (!transition(root, job, Running, g)) return
    val t0 = System.nanoTime()
    try {
      job.mdx_query match {
        case MaintainRe(cubeName, paName, predicate) =>
          runMaintenance(spark, root, sfDir, job.id, cubeName, paName, predicate)
        case mdx =>
          MdxLowerer.run(spark, sfDir, mdx)
            .write.mode(SaveMode.Overwrite).parquet(resultPath(root, job.id))
      }
      transition(root, job, Completed, g,
        duration = (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        transition(root, job, Failed, g,
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
    * hard-link the files of the state it left into the job's result dir:
    * no Spark job, no bytes copied, and the result keeps the state it
    * names even after later folds publish newer generations. The job id
    * is the fold's token: a requeued job whose fold was already published
    * before its runner died (crash between publish and COMPLETED) only
    * relinks its result, never folds its delta twice. The fold and the
    * links hold the state path's lock, so two drainers' jobs on one
    * aggregate run one after the other and each result is the state its
    * own fold published. */
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
      val out = new java.io.File(resultPath(root, jobId))
      FileUtils.deleteDirectory(out) // an earlier attempt's partial result
      out.mkdirs()
      Option(new java.io.File(statePath).listFiles())
        .getOrElse(throw new java.io.IOException(s"cannot list $statePath"))
        .filter(_.isFile)
        .foreach(f => java.nio.file.Files.createLink(out.toPath.resolve(f.getName), f.toPath))
    }
  }

  /** Crash recovery sweep: a runner that died mid-execution leaves its
    * claim as an orphaned `running-g` event (the claim cannot survive its
    * claimant). Requeue any job whose current event is a claim older than
    * `staleAfterSeconds` by appending its `pending-(g+1)` event — the
    * append-only twin of the reference runner's stale-job reset
    * (`backend/db_runner.py`'s status-machine recovery). The PENDING
    * event opens the next generation, whose claim name is still free,
    * so any runner then completes the job normally. Sweeps may run
    * concurrently: the `pending-(g+1)` name lands once, and only the
    * sweep that linked it returns the id. Returns the requeued ids.
    *
    * Liveness contract: `staleAfterSeconds` must exceed the longest
    * legitimate job runtime — requeueing a claim whose owner is merely
    * SLOW (not dead) re-opens the job to a second execution. Timeout-
    * based recovery cannot distinguish the two without owner heartbeats;
    * deployments running jobs longer than the sweep threshold should
    * have runners heartbeat by re-appending RUNNING.
    *
    * BOUNDED RETRY (ref `scanner/DGIS_SCAN_2_stable.py:152-167` — 3
    * tries, exponential spacing): a job that keeps killing its runner
    * would otherwise requeue forever. The attempt count is
    * `Job.attempts` — the log IS the retry counter. A stale claim with
    * `maxAttempts` tries transitions FAILED (its `done-g`) instead of
    * PENDING; below the cap, attempt k is only swept after
    * `staleAfterSeconds * 2^(k-1)` — the reference's 2^n backoff
    * re-expressed on the sweep horizon. */
  def requeueStale(spark: SparkSession, root: String,
                   staleAfterSeconds: Long, maxAttempts: Int = 3): Seq[String] = {
    val now = System.currentTimeMillis()
    val stale = heads(names(root)).values.filter(_.phase == 1).toSeq
      .map(job(root, _)).filter { j =>
        val horizonMs =
          staleAfterSeconds * 1000L * (1L << math.min(j.attempts - 1, 16L).toInt)
        j.updated_at.getTime < now - horizonMs
      }
    stale.flatMap { j =>
      if (j.attempts >= maxAttempts) {
        transition(root, j, Failed, j.attempts,
          error = s"gave up after ${j.attempts} attempts (max $maxAttempts)")
        None
      } else Option.when(transition(root, j, Pending, j.attempts + 1))(j.id)
    }
  }

  /** Batch runner loop body (Q2): claim and execute PENDING jobs. Reads
    * the files of the PENDING jobs only. */
  def runPending(spark: SparkSession, root: String, sfDir: String): Int = {
    val pending = heads(names(root)).values.filter(_.phase == 0).toSeq
    pending.foreach(h => executeOne(spark, root, sfDir, job(root, h)))
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
          val current = heads(names(root))
          ids.flatMap(current.get).filter(_.phase == 0)
            .foreach(h => executeOne(spark, root, sfDir, job(root, h)))
        }
        ()
      }
      .option("checkpointLocation", s"$root/runner_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Completed-job result (the JSONB payload analogue), read with the
    * schema Spark wrote into its part files' footers: inferring it would
    * run a Spark job on every result read. */
  def result(spark: SparkSession, root: String, id: String): DataFrame = {
    val dir = java.nio.file.Paths.get(resultPath(root, id))
    val stored = Option(dir.toFile.list()).getOrElse(Array.empty[String])
      .find(n => n.startsWith("part-") && n.endsWith(".parquet")).flatMap { n =>
        val r = openParquet(dir.resolve(n))
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally r.close()
      }
    stored.fold(spark.read)(s => spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))
      .parquet(dir.toString)
  }
}
