package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: for every left row, the single most recent
  * right row with the same key at or before the left row's timestamp —
  * the standard event-attribution / slowly-changing-lookup operator that
  * Spark has no built-in for (the reference's closest analogue is the
  * scanner's "latest catalog snapshot per cube" selection,
  * `scanner/DGIS_SCAN_2_stable.py:214-233`, done imperatively in pandas).
  *
  * Scale design (100 TB): the naive formulation — equi-join on key plus a
  * time inequality, then keep the max-timestamp match per left row —
  * materializes every (left, right) pair whose times overlap: per-key
  * fan-out is |L_k|×|R_k| before the filter, quadratic on hot keys. This
  * implementation instead UNIONS the two sides, shuffles ONCE on the key,
  * sorts each key-partition by (time, side-tag), and carries the last
  * non-null right payload forward with a running `last(ignoreNulls)`
  * window — O(|L_k|+|R_k|) rows per key, one shuffle, no pair blow-up,
  * and AQE's skew handling still applies to the single exchange. Ties:
  * a right row AT the left row's timestamp matches (tag orders right
  * before left); equal-time right rows resolve to the greatest tiebreak
  * column (deterministic total order).
  */
object AsOfJoin {

  /** Inner as-of join. Output = every left row that has a right row with
    * its key at or before its time, with every left column plus each
    * `rightCols` column of the latest such right row as `<prefix><name>`.
    * `rightTieBreak` must be a unique right column (e.g. its id): it makes
    * the within-timestamp winner deterministic. */
  def asOfInner(left: DataFrame, right: DataFrame, keyCol: String,
                timeCol: String, rightCols: Seq[String], rightTieBreak: String,
                prefix: String = "r_"): DataFrame = {
    val payloadCols = (rightCols :+ rightTieBreak).distinct
    // SQL join semantics: a NULL key matches nothing. The window below
    // PARTITIONS null keys together (unlike an equi-join), so null-key
    // right rows must not enter — otherwise a null-key left row would be
    // attributed to them, diverging from the equi-join oracle form.
    val rightPart = right.where(col(keyCol).isNotNull).select(
      col(keyCol).as("__key"), col(timeCol).as("__t"), lit(0).as("__tag"),
      col(rightTieBreak).as("__tb"),
      struct(payloadCols.map(col): _*).as("__rv"))
    val leftPart = left.select(
      col(keyCol).as("__key"), col(timeCol).as("__t"), lit(1).as("__tag"),
      lit(null).cast(right.schema(rightTieBreak).dataType).as("__tb"),
      lit(null).cast(rightPart.schema("__rv").dataType).as("__rv"),
      struct(left.columns.map(col): _*).as("__lv"))
    // Right rows sort before left rows at the same instant (tag 0 < 1), so
    // "at or before" is a plain running last(); among equal-time right rows
    // the tiebreak column picks the greatest. Equal-time LEFT rows are
    // order-independent: their null payloads are invisible to
    // last(ignoreNulls), so each sees exactly the right rows before them.
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = rightPart
      .withColumn("__lv", lit(null).cast(leftPart.schema("__lv").dataType))
      .unionByName(leftPart)
      .withColumn("__match", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
    val outLeft = left.columns.map(c => col(s"__lv.$c").as(c))
    val outRight = rightCols.map(c => col(s"__match.$c").as(s"$prefix$c"))
    joined.where(col("__match").isNotNull).select(outLeft ++ outRight: _*)
  }
}
