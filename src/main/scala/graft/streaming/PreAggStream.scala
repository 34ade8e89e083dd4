package graft.streaming

import graft.mdx.{CubeDef, MdxLowerer, PreAggDef}
import org.apache.commons.io.FileUtils
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
    PreAggMaintainer.recoverState(statePath)
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
    * the state to stay put (a job publishing the state it just folded)
    * holds it too — the lock is reentrant. Writers in SEPARATE processes
    * share no lock: run one maintenance runner per state path. */
  def locked[T](statePath: String)(body: => T): T =
    locks.computeIfAbsent(
      java.nio.file.Paths.get(statePath).toAbsolutePath.normalize.toString,
      _ => new AnyRef).synchronized(body)

  /** Fold one fact `delta` into the aggregate stored at `statePath`:
    * pre-aggregate ONLY the delta at the declared grain, merge it into the
    * stored state, and swap the state dir. Work is delta-sized + one
    * merge shuffle bounded by the grain cardinality — never a history
    * rebuild. The write-new-then-rename swap is the local-FS stand-in for
    * a table-format transactional commit (Delta/Iceberg).
    *
    * CRASH SAFETY under at-least-once redelivery (a requeued job, a
    * replayed micro-batch): the merge is not idempotent (folding the same
    * delta twice double-counts SUM/COUNT partials), and the two renames
    * are not atomic together — so the fold is made recoverable instead:
    *   - every published state dir carries `_maintained_by-<token>`
    *     marker files (underscore-prefixed → invisible to parquet
    *     readers), carried forward across merges. A fold whose token is
    *     already marked in the live state is a no-op — it was published
    *     before the crash.
    *   - [[recoverState]] runs before the merge: a live dir missing
    *     because a prior fold died between retire and publish is restored
    *     from the surviving complete `.next-*` (preferred: it holds the
    *     finished merge) or `.old-*` (pre-merge state) dir — never
    *     treated as "no history". */
  def fold(spark: SparkSession, sfDir: String, cube: CubeDef, pa: PreAggDef,
           statePath: String, delta: DataFrame, token: String): Unit = locked(statePath) {
    recoverState(statePath)
    val live = new java.io.File(statePath)
    val haveState = live.exists()
    val priorMarkers = if (haveState) markerNames(live) else Seq.empty
    if (!priorMarkers.contains(markerName(token))) {
      val part = MdxLowerer.preAggregateSlice(spark, sfDir, cube, pa, delta)
      val merged =
        if (haveState) MdxLowerer.mergePreAggs(cube, pa, Seq(spark.read.parquet(statePath), part))
        else part
      val next = new java.io.File(s"$statePath.next-$token")
      merged.write.mode(SaveMode.Overwrite).parquet(next.getPath)
      (priorMarkers :+ markerName(token)).foreach { n =>
        new java.io.File(next, n).createNewFile()
      }
      val retired = new java.io.File(s"$statePath.old-$token")
      if (haveState && !live.renameTo(retired))
        throw new java.io.IOException(s"could not retire $statePath")
      if (!next.renameTo(live)) {
        if (haveState) retired.renameTo(live) // undo the retire; state survives
        throw new java.io.IOException(s"could not publish $statePath")
      }
      FileUtils.deleteQuietly(retired)
    }
  }

  private def markerName(token: String) = s"_maintained_by-$token"

  private def markerNames(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("_maintained_by-")).toSeq

  /** Restore a state dir left torn by a crashed swap, then sweep swap
    * leftovers. If the live dir is missing, a prior fold died between
    * retiring the old state and publishing the new one: the finished
    * merge survives as a complete `.next-<token>` dir (parquet commit
    * protocol wrote its `_SUCCESS`) — rename it into place, so the
    * re-run fold's marker check then makes it a no-op. With no complete
    * next, the retired `.old-<token>` dir IS the pre-merge state —
    * restore it and let the re-run merge normally. Either way a re-run
    * can never observe "no state" and rebuild from the delta alone. Runs
    * under [[locked]]: outside it, a `.next-*` may be a fold in flight. */
  private def recoverState(statePath: String): Unit = {
    val live = new java.io.File(statePath)
    val name = live.getName
    val siblings = Option(live.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File])
    val nexts = siblings.filter(_.getName.startsWith(s"$name.next-"))
    val olds = siblings.filter(_.getName.startsWith(s"$name.old-"))
    if (!live.exists()) {
      val completeNext = nexts.find(n => new java.io.File(n, "_SUCCESS").exists())
      completeNext.orElse(olds.headOption).foreach { d =>
        if (!d.renameTo(live))
          throw new java.io.IOException(s"could not restore $statePath from ${d.getName}")
      }
    }
    // Leftovers from a crash after publish (orphaned .old-*) or before
    // retire (incomplete .next-*) are garbage once live exists.
    if (live.exists()) (nexts ++ olds).foreach(FileUtils.deleteQuietly)
  }
}
