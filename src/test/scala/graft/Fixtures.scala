package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Counts the Spark jobs a block starts on the calling thread. */
object SparkJobCount {
  /** Jobs `body` started, by a listener filtering on a job group of its
    * own. The listener bus is asynchronous but delivers in order, so the
    * count is read once a sentinel job, started after `body`, has arrived. */
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val closed = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case `sentinel` => closed.set(true)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(Span(30, Seconds)))(assert(closed.get))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Writes job-log events the way another writer of the public log
  * contract would: one row written by Spark into a temp dir, its part
  * file then linked into `<root>/job_events` under `name`. */
object JobLogFixture {
  def linkEvent(spark: SparkSession, root: String, name: String, id: String,
                mdx: String, status: String, seq: Long = 0L): Unit = {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_job_event").toFile
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    Seq((id, "SALES", mdx, status, "", 0.0, now, seq))
      .toDF("id", "catalog_code", "mdx_query", "status", "error_message",
        "duration_seconds", "event_at", "seq")
      .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new java.io.File(s"$root/job_events").mkdirs()
    java.nio.file.Files.createLink(
      java.nio.file.Paths.get(s"$root/job_events", name), part.toPath)
  }
}
