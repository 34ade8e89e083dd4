package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, tasks, task time, shuffle and
  * spill bytes, and RDD block bytes stored. */
final class SparkCounts {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskMs = new AtomicLong; val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  val blockBytes = new AtomicLong
  def add(o: SparkCounts): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
    taskMs.addAndGet(o.taskMs.get); shuffleRead.addAndGet(o.shuffleRead.get)
    shuffleWrite.addAndGet(o.shuffleWrite.get); spill.addAndGet(o.spill.get)
    blockBytes.addAndGet(o.blockBytes.get)
  }
}

final case class Span(id: Int, name: String, parent: Int, request: String,
                      thread: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; each open span is also
  * published as the thread's Spark job property [[Tracer.Prop]], so
  * [[AttributionListener]] charges every job, stage, task and block update
  * to the span whose call caused it. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, request: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      val (parent, req) = outer.headOption match {
        case Some((p, r)) => (p, if (request.nonEmpty) request else r)
        case None => (0, request)
      }
      stack.set((id, req) :: outer)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, req, Thread.currentThread.getName, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.Prop, outer.headOption.map(_._1.toString).orNull)
      }
    }

  def clear(): Unit = spans.clear()
}

object Tracer { val Prop = "perfbench.span" }

/** Charges Spark scheduler events to the span that was open on the
  * submitting thread (its job property); events outside any span are
  * charged to span 0. Totals over all spans are kept too. */
final class AttributionListener extends SparkListener {
  val bySpan = TrieMap.empty[Int, SparkCounts]
  private val stageSpan = TrieMap.empty[Int, Int]
  private val rddSpan = TrieMap.empty[Int, Int]

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new SparkCounts)
  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    counts(s).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = Option(e.properties).map(spanOf).getOrElse(stageSpan.getOrElse(e.stageInfo.stageId, 0))
    stageSpan.put(e.stageInfo.stageId, s)
    counts(s).stages.incrementAndGet()
    e.stageInfo.rddInfos.foreach(r => rddSpan.putIfAbsent(r.id, s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageSpan.getOrElse(e.stageId, 0))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.taskMs.addAndGet(m.executorRunTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) {
      val rdd = info.blockId.asRDDId.map(_.rddId).getOrElse(-1)
      counts(rddSpan.getOrElse(rdd, 0)).blockBytes.addAndGet(info.memSize + info.diskSize)
    }
  }

  def total: SparkCounts = {
    val t = new SparkCounts
    bySpan.values.foreach(t.add)
    t
  }

  def reset(): Unit = { bySpan.clear(); stageSpan.clear(); rddSpan.clear() }
}

/** Counts Spark log lines that signal a design defect, from a log4j
  * appender on the root logger. */
object LogCounters {
  val patterns: Seq[(String, String)] = Seq(
    "codegen_fallbacks" -> "falling back to interpreter mode",
    "hint_ignored" -> "is not supported in the query",
    "already_cached" -> "Asked to cache already cached data",
    "block_exists" -> "already exists on this machine")
  private val counts = patterns.map { case (k, _) => k -> new AtomicLong }.toMap

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-counters", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg != null) patterns.foreach { case (k, p) =>
          if (msg.contains(p)) counts(k).incrementAndGet()
        }
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    // Non-additive loggers do not pass their events on to the root.
    ctx.getConfiguration.getLoggers.asScala.values.filterNot(_.isAdditive)
      .foreach(_.addAppender(app, null, null))
    ctx.updateLoggers()
  }

  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }

  def reset(): Unit = counts.values.foreach(_.set(0))
}
