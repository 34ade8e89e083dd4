package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout operators: Morton (Z-order) clustering and the zone-map
  * skipping audit that justifies (or rejects) a layout rewrite.
  *
  * The 100 TB posture: a Z-ORDER rewrite of a 100 TB table is itself a
  * 100 TB job, so the decision to run one should be made from MEASURED
  * file skipping, not folklore. [[zoneMapAudit]] simulates both layouts
  * at equal-count file grain, collects exactly the per-file min/max
  * stats Parquet row groups / lakehouse manifests already store, and
  * counts the files a box predicate must read under each layout — the
  * number a 1000-executor scan actually pays for. The equal-count split
  * is ntile SEMANTICS (deterministic file boundaries, therefore
  * oracle-checkable — `repartitionByRange` samples its boundaries and
  * is not) but NOT Spark's ntile window: an unpartitioned ntile is a
  * single-partition sort of the whole fact table, the one plan shape
  * that cannot survive the audit's own 100 TB target. Instead each
  * row's exact global rank comes from ops.ShardedRank (range-shard +
  * consecutive-id local ranks + partition-count offsets — sampled
  * boundaries steer balance only; the counts make any split exact),
  * and the ntile group falls out of the closed-form rank→tile formula.
  *
  * Everything is integer: keys are BIGINT, the Morton key is a sum of
  * shifted bits, zone bounds and row counts are exact.
  */
object Layout {

  /** Morton / Z-order key: bit-interleave two non-negative integer
    * columns, `x` on even bits and `y` on odd bits, using the low
    * `bits` bits of each. Pure shift/mask/add — whole-stage codegen.
    * Faithful (bijective) only for 0 <= x,y < 2^bits; callers that
    * cannot prove the bound should route through [[zoneMapAudit]],
    * which enforces it with `assert_true`. */
  def zOrderKey(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftright(xs, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(ys, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Zone-map skipping audit: assign every row to one of `files`
    * equal-count files under (a) the natural order given by `tieCols`
    * and (b) Z-order on (`xCol`, `yCol`), collect per-file min/max
    * zone maps, and report how many files — and rows — a box predicate
    * `x in [xLo,xHi] AND y in [yLo,yHi]` must read under each layout.
    *
    * Output, one row per layout ('natural' | 'zorder'):
    * (layout, n_files, files_read, files_skipped, rows_read,
    * rows_matched) — `rows_matched` (true predicate hits) is
    * layout-invariant by construction and doubles as the audit's
    * internal consistency check: rows_read >= rows_matched always.
    * The rows_read gap between layouts is the measured scan saving a
    * rewrite would buy at this file count. */
  def zoneMapAudit(df: DataFrame, xCol: String, yCol: String,
                   tieCols: Seq[String], files: Int,
                   xLo: Long, xHi: Long, yLo: Long, yHi: Long,
                   bits: Int = 21): DataFrame = {
    require(tieCols.nonEmpty, "need a deterministic natural order")
    // Tie columns ride through by name next to the working columns
    // below; a same-named tie would be replaced by withColumn and
    // silently corrupt the natural-order leg.
    val clash = tieCols.intersect(
      Seq("x", "y", "zkey", "lid", "__zo", "__rank", "__n", "f", "m"))
    require(clash.isEmpty,
      s"tie columns collide with zoneMapAudit working names: ${clash.mkString(", ")}")
    val lim = 1L << bits
    // Persisted once (transient, the query owner releases): the two
    // rank legs, their bucket statistics and the row count would
    // otherwise each re-scan the fact and re-derive the Morton key —
    // six scans for one audit.
    // Deliberately a LAZY persist (r12): the two rank legs + row-count
    // broadcast do race the cache population, but an eager count() on
    // this corpus-sized projection was measured SLOWER (q230 3.15 →
    // 4.78 s) — the barrier costs more than the duplicated narrow
    // projection; the eager form only pays off for small fan-out tables
    // (see TransientCache.materialize).
    val base = graft.ops.TransientCache.persist(df.select(
      (Seq(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"),
        zOrderKey(col(xCol), col(yCol), bits).as("zkey")) ++
        tieCols.map(col)): _*)
      // Interleave is only faithful below 2^bits: enforce in the plan
      // (the q90/q227 discipline) riding a column pruning can't drop.
      .withColumn("x", col("x") + coalesce(
        assert_true(
          col("x") >= 0 && col("x") < lim && col("y") >= 0 && col("y") < lim,
          lit(s"zOrderKey: key outside [0, 2^$bits) — raise bits"))
          .cast("long"), lit(0L))))
    val ties = tieCols.map(col)
    val matched = when(col("x").between(xLo, xHi) &&
      col("y").between(yLo, yHi), 1L).otherwise(0L)
    // ntile(k) over n rows, closed form from the exact 1-based rank:
    // the first n%k tiles hold n/k+1 rows, the rest n/k.
    def tileOf: Column = expr(
      s"""CASE WHEN __rank <= ((__n div $files) + 1) * (__n % $files)
         | THEN (__rank - 1) div ((__n div $files) + 1) + 1
         | ELSE (__n % $files) +
         |   (__rank - ((__n div $files) + 1) * (__n % $files) - 1)
         |     div (__n div $files) + 1 END""".stripMargin).cast("int")
    val nRow = base.agg(count(lit(1)).as("__n"))
    // ONE grouped rank pass over both layouts (r13; previously one full
    // ShardedRank leg per layout — each with its own range-boundary
    // sampling job, shuffle, sort, count aggregate and broadcast join,
    // measured as the suite's slowest query). Each row becomes a
    // (lid 0 = natural, lid 1 = zorder) twin whose primary order key is
    // layout-local: constant 0 under natural (ties alone give the
    // natural order — exactly the old leg's order), zkey under zorder.
    // Per-layout ranks from ShardedRank.withRankOrdered(grp = lid) are
    // then identical to the two global ranks by construction, and both
    // layouts ride one range shuffle of 2× slim rows instead of two
    // full passes. Both legs share __n = count(base): each layout holds
    // every base row once. The group key is an INT id, not the layout
    // label: an all-numeric (lid, __zo, ties…) sort key keeps the
    // shard sort radix-friendly and the shuffled rows slim — the
    // string label joins back at zone grain (≤ 2·files rows).
    val both = base
      .withColumn("lid", explode(array(lit(0), lit(1))))
      .withColumn("__zo",
        when(col("lid") === 1, col("zkey")).otherwise(lit(0L)))
    val assigned = graft.ops.ShardedRank.withRankOrdered(
        both, Seq("lid"), col("__zo") +: ties, "__rank")
      .crossJoin(broadcast(nRow))
      .select(col("lid"), tileOf.as("f"), col("x"),
        col("y"), matched.as("m"))
    val zones = assigned.groupBy(col("lid"), col("f"))
      .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        min(col("y")).as("mny"), max(col("y")).as("mxy"),
        count(lit(1)).as("rows_f"), sum(col("m")).as("m"))
      .withColumn("layout",
        when(col("lid") === 1, lit("zorder")).otherwise(lit("natural")))
    val overlap = col("mxx") >= xLo && col("mnx") <= xHi &&
      col("mxy") >= yLo && col("mny") <= yHi
    zones.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(overlap, 1L).otherwise(0L)).as("files_read"),
        sum(when(overlap, lit(0L)).otherwise(1L)).as("files_skipped"),
        sum(when(overlap, col("rows_f")).otherwise(0L)).as("rows_read"),
        sum(col("m")).as("rows_matched"))
      .orderBy(col("layout"))
  }
}
