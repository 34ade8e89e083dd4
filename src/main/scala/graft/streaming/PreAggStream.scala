package graft.streaming

import graft.mdx.{CubeDef, MdxLowerer, PreAggDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a cube pre-aggregate — the operational form
  * of [[MdxLowerer.mergePreAggs]] (q126): fact batches arrive on a
  * stream, each is pre-aggregated at the declared grain
  * ([[MdxLowerer.preAggregateSlice]]) and folded into the running
  * aggregate in `foreachBatch`. Because SUM/COUNT partials merge
  * exactly, the maintained aggregate is BIT-identical to a from-scratch
  * build over everything ingested so far (StreamingSpec pins it) — the
  * SSAS incremental-processing loop as a Structured Streaming program.
  *
  * Scale notes: per batch, the work is one delta-sized pre-aggregation
  * plus one merge shuffle bounded by the GRAIN cardinality (not the
  * fact); the running aggregate is eagerly localCheckpoint'ed each fold
  * so lineage stays one batch deep (the connectedComponents rule), and
  * the previous checkpoint's blocks are released after the new one
  * materializes. A deployment would write `snapshot` to a table the
  * navigator reads; exactly-once then comes from the sink transaction
  * (Delta/Iceberg commit), with the checkpointed source offsets
  * replaying any uncommitted batch — the same claim/replay contract as
  * [[graft.service.JobService]]'s runner. */
final class PreAggMaintainer(spark: SparkSession, sfDir: String,
                             cube: CubeDef, pa: PreAggDef) {

  @volatile private var current: Option[DataFrame] = None

  /** The maintained aggregate after every fold so far (None before the
    * first batch). */
  def snapshot: Option[DataFrame] = current

  /** Fold one fact batch into the aggregate. Thread-safe; foreachBatch
    * invokes it serially per query. */
  def fold(batch: DataFrame): Unit = synchronized {
    val part = MdxLowerer.preAggregateSlice(spark, sfDir, cube, pa, batch)
    val next = current match {
      case Some(c) => MdxLowerer.mergePreAggs(cube, pa, Seq(c, part))
      case None    => part
    }
    val cp = next.localCheckpoint(true)
    current.foreach(_.unpersist(blocking = false))
    current = Some(cp)
  }

  /** Drive the maintainer from a streaming fact source; its
    * AvailableNow trigger drains the backlog and stops. */
  def runner(factStream: DataFrame, checkpointDir: String): StreamingQuery =
    factStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => fold(batch) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
