package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry point of the product-path benchmark's JVM half.
  *
  * Usage: `perfbench.Main <plan.json> <result.json>`. The plan (written by
  * run.py from the seed) names the workload, the data directory, the run
  * length and every generated input; the program reads nothing else. The
  * result holds the end-to-end metrics, the per-layer metrics when
  * tracing, and the outputs run.py checks against its own oracle. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new java.io.File(args(0)))
    LogCounters.install()
    val ctx = new Ctx(plan)
    val workload: Workload = plan.get("workload").asText match {
      case "pivot_serve" => new PivotServe(ctx)
      case "job_drain" => new JobDrain(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = try workload.run() finally ctx.stop()
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(args(1)), out)
  }
}

/** Shared state of one run: the plan, the session, the tracer and the
  * Spark listener. */
final class Ctx(val plan: JsonNode) {
  val data: String = plan.get("data").asText
  val work: String = plan.get("work").asText
  val cores: Int = plan.get("cores").asInt
  val seconds: Double = plan.get("seconds").asDouble
  val traced: Boolean = plan.get("trace").asInt == 1

  private var session: SparkSession = _
  var tracer: Tracer = _
  val listener = new AttributionListener

  def spark: SparkSession = session

  /** Start the run's session; returns seconds. */
  def startSession(): Double = Stats.seconds {
    session = graft.GraftSession.local(cores, "perfbench")
    session.sparkContext.addSparkListener(listener)
    tracer = new Tracer(traced, session.sparkContext)
    log("session started")
  }

  def drainListener(): Unit = org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)

  /** Start counting afresh: listener totals, log counters and spans. */
  def resetCounters(): Unit = {
    drainListener(); listener.reset(); LogCounters.reset(); tracer.clear()
  }

  def stop(): Unit = if (session != null) session.stop()

  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench-jvm ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Wall seconds `body` takes. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** One operation a client completed: when it started and ended
  * (`System.nanoTime`) and the latency the workload reports for it. */
final case class Op(startNs: Long, endNs: Long, latMs: Double)

/** One measured phase: wall time, process CPU, GC, the operations its
  * `clients` completed, and the host's steal samples taken meanwhile. */
final case class Phase(wallS: Double, cpuS: Double, gcS: Double, ops: Seq[Op], clients: Int,
                       steal: StealSampler)

/** Samples, every `periodMs`, the CPU time the hypervisor took from the VM
  * for other tenants (steal, from the first line of /proc/stat) and the
  * VM's total CPU time, until stopped. */
final class StealSampler(periodMs: Long = 100) {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  @volatile private var running = true
  private def sample(): Unit =
    StealSampler.read().foreach { case (steal, total) => samples.add((System.nanoTime(), steal, total)) }
  private val thread = new Thread(() => while (running) { sample(); Thread.sleep(periodMs) }, "steal-sampler")
  thread.setDaemon(true)
  thread.start()
  private lazy val taken = { running = false; thread.join(); sample(); samples.asScala.toIndexedSeq }

  def stop(): Unit = taken

  /** Share of the VM's CPU time stolen from the last sample at or before
    * `t0` to the first at or after `t1`; 0 without samples. */
  def share(t0: Long, t1: Long): Double = {
    val a = math.max(0, taken.lastIndexWhere(_._1 <= t0))
    val b = taken.indexWhere(_._1 >= t1) match { case -1 => taken.size - 1; case i => i }
    val total = if (b > a) taken(b)._3 - taken(a)._3 else 0L
    if (total <= 0) 0.0 else (taken(b)._2 - taken(a)._2).toDouble / total
  }

  def overall: Double = share(Long.MinValue, Long.MaxValue)
}

object StealSampler {
  /** (steal, total) jiffies of all CPUs, if /proc/stat has them. */
  def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f(7), f.take(8).sum))
      } finally src.close()
    } catch { case _: Exception => None }
}

object Workload {
  /** Steal share up to which an operation counts as run on a quiet host:
    * a VM alone on its host sees 0–2 %, one whose host is contended 15–35 %. */
  val QuietSteal = 0.03
}

trait Workload {
  val ctx: Ctx
  def run(): Map[String, Any]

  /** Tail percentile stated in BENCHMARK.json for this workload. */
  def tailQuantile: Double

  /** Rows rendered for the oracle compare: JSON-friendly cell values. */
  protected def cells(r: Row): Seq[Any] = r.toSeq.map(cell)
  protected def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.map(cell)
    case other => other
  }

  /** Canonical form used to check that repeated requests agree. */
  protected def canon(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("\u0001")).sorted

  /** Apply `f` to every item on `ctx.cores` threads. */
  protected def parallel[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try items.map(a => pool.submit[Unit](() => f(a))).foreach(_.get())
    finally pool.shutdown()
  }

  /** Run the loop of `clients` threads in `body` and return its
    * measurement. */
  protected def measure(clients: Int)(body: => Seq[Op]): Phase = {
    val cpu0 = ctx.cpuSeconds; val gc0 = ctx.gcSeconds
    val steal = new StealSampler
    val t0 = System.nanoTime()
    val ops = try body finally steal.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val p = Phase(wall, ctx.cpuSeconds - cpu0, ctx.gcSeconds - gc0, ops, clients, steal)
    ctx.log(f"measured ${ops.size} ops in $wall%.1f s, ${100 * steal.overall}%.1f%% of CPU time stolen, " +
      s"${quiet(p).size} ops quiet")
    p
  }

  /** The operations that ran while the VM had its CPUs: at most
    * `Workload.QuietSteal` of the VM's CPU time stolen from half a second
    * before the operation to half a second after it. When fewer than a
    * quarter qualify, the quarter with the least steal. */
  protected def quiet(p: Phase): Seq[Op] = {
    val shares = p.ops.map(o => o -> p.steal.share(o.startNs - 500000000L, o.endNs + 500000000L))
    val ok = shares.filter(_._2 <= Workload.QuietSteal)
    (if (4 * ok.size >= p.ops.size) ok else shares.sortBy(_._2).take((p.ops.size + 3) / 4)).map(_._1)
  }

  /** The end-to-end metrics every workload reports (units in BENCHMARK.json).
    * Throughput and latency come from the quiet operations: a closed loop
    * of `clients` with no think time completes clients ÷ mean operation
    * time operations per second. */
  protected def endToEnd(p: Phase, setupS: Double): Map[String, Double] = {
    val q = quiet(p)
    val meanS = if (q.isEmpty) 0.0 else q.map(o => (o.endNs - o.startNs) / 1e9).sum / q.size
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> (if (meanS == 0) 0.0 else p.clients / meanS),
      "latency_p50_ms" -> Stats.median(q.map(_.latMs)),
      "latency_tail_ms" -> Stats.quantile(q.map(_.latMs), tailQuantile),
      "cpu_ms_per_op" -> 1000.0 * p.cpuS / math.max(1, p.ops.size),
      "peak_rss_mb" -> ctx.peakRssMb)
  }

  /** Host facts of a phase: the share of CPU time stolen and the share of
    * operations `quiet` kept. */
  protected def hostFacts(p: Phase): Map[String, Double] = Map(
    "host.steal_pct" -> 100 * p.steal.overall,
    "host.quiet_ops_share" -> (if (p.ops.isEmpty) 0.0 else quiet(p).size.toDouble / p.ops.size))

  /** Durations (ms) of the spans called `name`. */
  protected def spanMs(spans: Seq[Span], name: String): Seq[Double] = spans.filter(_.name == name).map(_.ms)

  /** Per-layer metrics common to every workload, from the listener and
    * the spans of the measured phase. */
  protected def commonLayers(p: Phase, spans: Seq[Span]): mutable.LinkedHashMap[String, Double] = {
    ctx.drainListener()
    val t = ctx.listener.total
    val ops = math.max(1, p.ops.size).toDouble
    def named(n: String) = spanMs(spans, n)
    val m = mutable.LinkedHashMap[String, Double](
      "mdx.parse.ms_p50" -> Stats.median(named("mdx.parse")),
      "mdx.lower.ms_p50" -> Stats.median(named("mdx.lower")),
      "mdx.lower.busy_s" -> named("mdx.lower").sum / 1e3,
      "spark.plan.ms_p50" -> Stats.median(named("spark.plan")),
      "spark.plan.busy_s" -> named("spark.plan").sum / 1e3,
      "spark.exec.ms_p50" -> Stats.median(named("spark.exec")),
      "spark.exec.busy_s" -> named("spark.exec").sum / 1e3,
      "spark.exec.jobs_per_op" -> t.jobs.get / ops,
      "spark.exec.tasks_per_op" -> t.tasks.get / ops,
      "spark.exec.task_s" -> t.taskMs.get / 1e3,
      "spark.exec.utilization" -> t.taskMs.get / 1e3 / (p.wallS * ctx.cores),
      "spark.exec.shuffle_read_mb" -> t.shuffleRead.get / 1e6,
      "spark.exec.shuffle_write_mb" -> t.shuffleWrite.get / 1e6,
      "spark.exec.spill_mb" -> t.spill.get / 1e6,
      "ops.session_cache.block_write_mb" -> t.blockBytes.get / 1e6,
      "ops.session_cache.stored_mb" -> ctx.spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6,
      "jvm.gc_s" -> p.gcS,
      "trace.spans" -> spans.size.toDouble) ++ hostFacts(p)
    LogCounters.snapshot().foreach { case (k, v) => m.put(s"spark.log.$k", v.toDouble) }
    m
  }

  /** Run `loop` with tracing off, as the overhead reference; counters are
    * reset afterwards. */
  protected def reference(loop: => Map[String, Double]): Map[String, Double] = {
    val t = ctx.tracer
    ctx.tracer = new Tracer(false, ctx.spark.sparkContext)
    try loop finally { ctx.tracer = t; ctx.resetCounters() }
  }

  /** Traced minus untraced, as a share of the untraced value (%). The
    * untraced value is the mean of a reference run before and one after
    * the traced run, so warm-up during the run does not bias it. */
  protected def overhead(untraced: Seq[Map[String, Double]], traced: Map[String, Double]): Map[String, Double] =
    Seq("ops_per_s", "latency_p50_ms", "cpu_ms_per_op").map { k =>
      val u = untraced.map(_(k)).sum / untraced.size
      s"trace.overhead.${k}_pct" -> (if (u == 0) 0.0 else 100.0 * (traced(k) - u) / u)
    }.toMap

  /** Write spans as JSON lines plus a per-name summary with self time
    * (duration minus the part its children cover). */
  protected def writeSpans(spans: Seq[Span], dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val counts = ctx.listener.bySpan
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new java.io.PrintWriter(s"$dir/spans.jsonl", "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val c = counts.get(s.id)
      w.println(Main.json.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "thread" -> s.thread, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "jobs" -> c.map(_.jobs.get).getOrElse(0L), "stages" -> c.map(_.stages.get).getOrElse(0L),
        "tasks" -> c.map(_.tasks.get).getOrElse(0L),
        "task_ms" -> c.map(_.taskMs.get).getOrElse(0L),
        "shuffle_read_bytes" -> c.map(_.shuffleRead.get).getOrElse(0L),
        "shuffle_write_bytes" -> c.map(_.shuffleWrite.get).getOrElse(0L),
        "block_bytes" -> c.map(_.blockBytes.get).getOrElse(0L))))
    } finally w.close()
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      // union of child intervals clipped to the parent
      val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (s.endNs - s.startNs - covered) / 1e6
    }
    val summary = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(selfMs).sum, "p50_ms" -> Stats.median(ss.map(_.ms)),
        "p90_ms" -> Stats.quantile(ss.map(_.ms), 0.9))
    }.toMap
    Main.json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(s"$dir/span_summary.json"), summary)
  }
}
