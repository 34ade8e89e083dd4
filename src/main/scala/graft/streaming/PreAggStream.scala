package graft.streaming

import graft.mdx.{CubeDef, MdxLowerer, PreAggDef}
import graft.sink.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a cube pre-aggregate — the continuous form
  * of the one maintained-state store ([[PreAggMaintainer.fold]]) that
  * `MAINTAIN PREAGG` jobs ([[graft.service.JobService]]) also fold into:
  * fact batches arrive on a stream and each is folded into the stored
  * aggregate at `statePath` in `foreachBatch`. Because SUM/COUNT partials
  * merge exactly, the maintained aggregate is BIT-identical to a
  * from-scratch build over everything ingested so far (StreamingSpec pins
  * it) — the SSAS incremental-processing loop as a Structured Streaming
  * program.
  *
  * The state is durable: a maintainer restarted on the same state path
  * and checkpoint continues from the stored aggregate. Each batch folds
  * under the token `<query id>-<batch id>`; the query id is kept in the
  * checkpoint, so a batch the restarted query replays carries the token
  * its first run marked, and is not folded twice. The trigger is always
  * AvailableNow: [[runner]] drains the backlog and stops. */
final class PreAggMaintainer(spark: SparkSession, sfDir: String,
                             cube: CubeDef, pa: PreAggDef, statePath: String) {

  /** The stored aggregate after every fold so far (None before the
    * first fold). */
  def snapshot: Option[DataFrame] = PreAggMaintainer.locked(statePath) {
    if (new java.io.File(statePath).exists()) Some(spark.read.parquet(statePath))
    else None
  }

  /** Drive the maintainer from a streaming fact source. */
  def runner(factStream: DataFrame, checkpointDir: String): StreamingQuery =
    factStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
        PreAggMaintainer.fold(spark, sfDir, cube, pa, statePath, batch, s"$queryId-$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}

object PreAggMaintainer {

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Run `body` holding the JVM-wide lock of `statePath`. Folds take it,
    * so two folds on one state path never interleave; a reader that needs
    * the state to stay put (a job linking the state it just folded as its
    * result) holds it too — the lock is reentrant. Writers in SEPARATE
    * processes share no lock: run one maintenance runner per state path. */
  def locked[T](statePath: String)(body: => T): T =
    locks.computeIfAbsent(
      java.nio.file.Paths.get(statePath).toAbsolutePath.normalize.toString,
      _ => new AnyRef).synchronized(body)

  /** Fold one fact `delta` into the aggregate stored at `statePath`:
    * pre-aggregate ONLY the delta at the declared grain, merge it into the
    * stored state, write the merge as the state's generation `token` and
    * [[Sinks.publish]] it. Work is delta-sized + one merge shuffle bounded
    * by the grain cardinality — never a history rebuild.
    *
    * CRASH SAFETY under at-least-once redelivery (a requeued job, a
    * replayed micro-batch): the merge is not idempotent (folding the same
    * delta twice double-counts SUM/COUNT partials), so every published
    * generation carries `_maintained_by-<token>` marker files
    * (underscore-prefixed → invisible to parquet readers), carried
    * forward across merges. A fold whose token is already marked in the
    * live state is a no-op — it was published before the crash — so the
    * token never names the live generation when a fold writes. A fold
    * that dies before its publish leaves the live state untouched and an
    * unpublished generation beside it, which the next publish sweeps. */
  def fold(spark: SparkSession, sfDir: String, cube: CubeDef, pa: PreAggDef,
           statePath: String, delta: DataFrame, token: String): Unit = locked(statePath) {
    val live = new java.io.File(statePath)
    val haveState = live.exists()
    val priorMarkers = if (haveState) markerNames(live) else Seq.empty
    if (!priorMarkers.contains(markerName(token))) {
      val part = MdxLowerer.preAggregateSlice(spark, sfDir, cube, pa, delta)
      val merged =
        if (haveState) MdxLowerer.mergePreAggs(cube, pa, Seq(spark.read.parquet(statePath), part))
        else part
      val next = Sinks.generation(statePath, token)
      merged.write.mode(SaveMode.Overwrite).parquet(next.getPath)
      (priorMarkers :+ markerName(token)).foreach { n =>
        new java.io.File(next, n).createNewFile()
      }
      Sinks.publish(statePath, token)
    }
  }

  private def markerName(token: String) = s"_maintained_by-$token"

  private def markerNames(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("_maintained_by-")).toSeq
}
