package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.service.JobService
import graft.sink.{ExcelSink, Sinks}
import org.apache.spark.sql.functions.col

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object JobDrain {
  private final case class JobSpec(id: String, key: String, kind: String, payload: String, sink: String)
  /** A job a client ran, with the client's start and end (`nanoTime`). */
  private final case class Done(spec: JobSpec, jobId: String, submitMs: Long, status: String,
                                rows: Seq[Seq[Any]], exportPath: String, sinkS: Double,
                                startNs: Long = 0, endNs: Long = 0)
  /** What one drive returns: the clients' phase, their jobs, the errors,
    * and per `runPending` call its milliseconds and pending count. */
  private final case class Drive(phase: Phase, done: Seq[Done], errors: Int, pending: Seq[(Double, Int)])
}

/** Write path: submitting clients poll their job to completion, read the
  * result and export it through a rotating sink, while drainer threads
  * loop `JobService.runPending` over the same append-only event log. */
final class JobDrain(val ctx: Ctx) extends Workload {
  import JobDrain.{Done, Drive, JobSpec}

  val tailQuantile = 0.75
  private val pollMs = ctx.plan.get("poll_ms").asLong
  private val idleMs = ctx.plan.get("drainer_idle_ms").asLong
  private val drainers = ctx.plan.get("drainers").asInt


  private def specs(arr: JsonNode): IndexedSeq[JobSpec] =
    arr.elements.asScala.map(n => JobSpec(n.get("id").asText, n.get("key").asText,
      n.get("kind").asText, n.get("payload").asText, n.get("sink").asText)).toIndexedSeq

  /** Submit one job, poll it to a terminal state, read and export it. */
  private def runJob(root: String, spec: JobSpec): Done = ctx.tracer.span(s"job.${spec.kind}", spec.id) {
    val t = ctx.tracer
    val s = ctx.spark
    val submitted = System.currentTimeMillis()
    val id = t.span("service.jobs.submit")(JobService.submit(s, root, "SALES", spec.payload))
    var status = JobService.Pending
    while (status == JobService.Pending || status == JobService.Running) {
      Thread.sleep(pollMs)
      status = t.span("service.jobs.status")(
        JobService.status(s, root, id).map(_.status).getOrElse(JobService.Pending))
    }
    if (status != JobService.Completed) Done(spec, id, submitted, status, Nil, "", 0)
    else {
      val df = JobService.result(s, root, id)
      val rows = t.span("sink.result_read")(df.collect().toSeq.map(cells))
      if (spec.sink == "none") Done(spec, id, submitted, status, rows, "", 0)
      else {
        val path = s"$root/exports/$id.${spec.sink}"
        new java.io.File(s"$root/exports").mkdirs()
        val secs = Stats.seconds(t.span(s"sink.${spec.sink}") {
          spec.sink match {
            case "csv" => Sinks.csvExport(df, path)
            case "json" => Sinks.jsonExport(df, path)
            case "excel" => ExcelSink.writeWorkbook(Seq("result" -> df), path)
          }
        })
        Done(spec, id, submitted, status, rows, path, secs)
      }
    }
  }

  /** Clients run their job lists until the seconds are up; drainers loop
    * `runPending` until the last client has finished. */
  private def drive(root: String, clients: IndexedSeq[IndexedSeq[JobSpec]],
                    seconds: Double = ctx.seconds): Drive = {
    new java.io.File(root).mkdirs()
    val done = new ConcurrentLinkedQueue[Done]()
    val pending = new ConcurrentLinkedQueue[(Double, Int)]()
    val stop = new AtomicBoolean(false)
    val errors = new java.util.concurrent.atomic.AtomicInteger()
    var phase: Phase = null
    val drainerThreads = (0 until drainers).map { i =>
      val th = new Thread(() => {
        while (!stop.get) {
          val t0 = System.nanoTime()
          val n =
            try ctx.tracer.span("service.jobs.run_pending", s"drainer-$i")(
              JobService.runPending(ctx.spark, root, ctx.data))
            catch {
              case e: Exception =>
                // a job whose claim failed stays PENDING for the other drainer
                System.err.println(s"[perfbench] runPending failed: $e")
                errors.incrementAndGet()
                0
            }
          pending.add(((System.nanoTime() - t0) / 1e6, n))
          if (n == 0) Thread.sleep(idleMs)
        }
      }, s"drainer-$i")
      th.start(); th
    }
    try {
      phase = measure(clients.size) {
        val t0 = System.nanoTime()
        val threads = clients.zipWithIndex.map { case (seq, i) =>
          val th = new Thread(() => {
            var k = 0
            while ((System.nanoTime() - t0) / 1e9 < seconds && k < seq.size) {
              val spec = seq(k); k += 1
              val start = System.nanoTime()
              try done.add(runJob(root, spec).copy(startNs = start, endNs = System.nanoTime()))
              catch {
                case e: Throwable =>
                  System.err.println(s"[perfbench] job ${spec.id} failed: $e")
                  errors.incrementAndGet()
              }
            }
          }, s"client-$i")
          th.start(); th
        }
        threads.foreach(_.join())
        // latencies come from the job log afterwards (`latencies`)
        done.asScala.toSeq.filter(_.status == JobService.Completed).map(d => Op(d.startNs, d.endNs, 0))
      }
    } finally {
      stop.set(true)
      drainerThreads.foreach(_.join())
    }
    Drive(phase, done.asScala.toSeq, errors.get, pending.asScala.toSeq)
  }

  /** Job-log facts read back after the run: per job, its COMPLETED
    * `updated_at` and `duration_seconds`, and its queue wait (first
    * RUNNING event minus the PENDING event). */
  private def logFacts(root: String): (Map[String, (Long, Double)], Seq[Double]) = {
    val jobs = JobService.readJobs(ctx.spark, root).where(col("status") === JobService.Completed)
      .select(col("id"), col("updated_at"), col("duration_seconds")).collect()
      .map(r => r.getString(0) -> ((r.getTimestamp(1).getTime, r.getDouble(2)))).toMap
    val ev = ctx.spark.read.parquet(s"$root/job_events").select("id", "status", "event_at").collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)))
    val waits = ev.groupBy(_._1).values.flatMap { es =>
      val pend = es.filter(_._2 == JobService.Pending).map(_._3.getTime)
      val run = es.filter(_._2 == JobService.Running).map(_._3.getTime)
      if (pend.isEmpty || run.isEmpty) None else Some((run.min - pend.min).toDouble)
    }.toSeq
    (jobs, waits)
  }

  /** Set-up on the fresh session: run every warm-up job (each MDX
    * statement of the pool through a sink, and a maintenance job) over two
    * clients on a job root of its own, so the loop measures jobs rather
    * than JIT and plan compilation. */
  private def warmup(): Unit = {
    val seq = specs(ctx.plan.get("warmup"))
    val d = drive(s"${ctx.work}/jobs-warmup", IndexedSeq(0, 1).map(c => seq.indices.filter(_ % 2 == c).map(seq)),
      seconds = Double.PositiveInfinity)
    require(d.errors == 0 && d.done.size == seq.size && d.done.forall(_.status == JobService.Completed),
      s"warm-up jobs failed: ${d.done.map(_.status)}")
  }

  def run(): Map[String, Any] = {
    val sessionS = ctx.startSession()
    val warmS = Stats.seconds(warmup())
    val setupS = sessionS + warmS
    ctx.resetCounters()
    val clients = ctx.plan.get("clients").elements.asScala.map(specs).toIndexedSeq

    // overhead references, half as long as the traced loop each
    def untraced(i: Int) = reference {
      val root = s"${ctx.work}/jobs-reference-$i"
      val d = drive(root, clients, ctx.seconds / 2)
      val (facts, _) = logFacts(root)
      endToEnd(d.phase.copy(ops = latencies(d.done, facts)), setupS)
    }
    val before = if (ctx.traced) Seq(untraced(1)) else Nil

    val root = s"${ctx.work}/jobs"
    val Drive(phase0, done, errors, pend) = drive(root, clients)
    val (facts, waits) = logFacts(root)
    val phase = phase0.copy(ops = latencies(done, facts))
    val e2e = endToEnd(phase, setupS)

    val result = mutable.LinkedHashMap[String, Any](
      "end_to_end" -> e2e,
      "host" -> hostFacts(phase),
      "attempted" -> (done.size + errors),
      "errors" -> errors,
      "job_root" -> root,
      "jobs" -> done.map(d => Map(
        "id" -> d.spec.id, "key" -> d.spec.key, "kind" -> d.spec.kind, "job_id" -> d.jobId,
        "status" -> d.status, "sink" -> d.spec.sink, "export" -> d.exportPath,
        "payload" -> d.spec.payload, "completed_logged" -> facts.contains(d.jobId),
        "rows" -> d.rows)),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS))
    if (ctx.traced) {
      val spans = ctx.tracer.spans.asScala.toSeq
      val layers = commonLayers(phase, spans)
      val execS = done.flatMap(d => facts.get(d.jobId)).map(_._2).sum
      val pendingSeen = pend.map(_._2).sum
      layers ++= Seq(
        "service.jobs.submit_ms_p50" -> Stats.median(spanMs(spans, "service.jobs.submit")),
        "service.jobs.status_ms_p50" -> Stats.median(spanMs(spans, "service.jobs.status")),
        "service.jobs.run_pending_ms_p50" -> Stats.median(pend.map(_._1)),
        "service.jobs.exec_s" -> execS,
        "service.jobs.claim_overhead_s" -> (pend.map(_._1).sum / 1e3 - execS),
        "service.jobs.queue_wait_ms_p50" -> Stats.median(waits),
        "service.jobs.claim_ratio" -> (if (pendingSeen == 0) 0.0 else facts.size.toDouble / pendingSeen),
        "service.jobs.log_files" -> Option(new java.io.File(s"$root/job_events").list())
          .map(_.count(_.endsWith(".parquet"))).getOrElse(0).toDouble,
        "sink.result_read_ms_p50" -> Stats.median(spanMs(spans, "sink.result_read")))
      val exported = done.filter(_.exportPath.nonEmpty)
      def rowsPerS(ds: Seq[Done]) = if (ds.isEmpty) 0.0 else ds.map(_.rows.size).sum / ds.map(_.sinkS).sum
      layers.put("sink.export_rows_per_s", rowsPerS(exported))
      Seq("csv", "json", "excel").foreach(k => layers.put(s"sink.$k.rows_per_s", rowsPerS(exported.filter(_.spec.sink == k))))
      writeSpans(spans, s"${ctx.work}/trace")
      layers ++= overhead(before :+ untraced(2), e2e)
      result.put("layers", layers)
    }
    result.toMap
  }

  /** Per completed job, the client's span with the latency from the
    * submit call to the job's COMPLETED `updated_at`. */
  private def latencies(done: Seq[Done], facts: Map[String, (Long, Double)]): Seq[Op] =
    done.flatMap(d => facts.get(d.jobId).map(f => Op(d.startNs, d.endNs, (f._1 - d.submitMs).toDouble)))
}
