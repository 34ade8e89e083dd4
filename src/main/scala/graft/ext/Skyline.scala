package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.LongType

/** Skyline (Pareto frontier) operator — the classic multi-criteria
  * OLAP query (Börzsönyi et al., ICDE 2001: "The Skyline Operator"):
  * keep every row not dominated by another, where `a` dominates `b`
  * iff `a >= b` on every dimension and `a > b` on at least one
  * (all-maximize convention; negate a column to minimize it).
  *
  * The 100 TB posture is the two-phase distributed skyline:
  *
  *   1. '''Local pass''' — each partition computes its own skyline
  *      independently. Dominance is transitive, so a global skyline
  *      point can never be eliminated by its partition's local pass;
  *      only dominated rows die. No shuffle; this is the pass that
  *      sees the 100 TB and it is embarrassingly parallel.
  *   2. '''Merge pass''' — the local survivors (output-sized: the
  *      skyline of real measure-like data is tiny relative to its
  *      input — anti-correlated dims are the worst case) are coalesced
  *      into one partition and the identical filter runs once more.
  *
  * Each local pass is sort-filter-skyline (Chomicki et al., ICDE
  * 2003): rows are sorted lexicographically descending on the
  * dimension vector, which guarantees every potential dominator of a
  * row precedes it (componentwise `>=` with one strict `>` implies
  * lexicographic `>`), so one forward scan comparing each row against
  * the current skyline buffer is exact — O(n·|skyline|) per
  * partition, not O(n²). Ties (identical dimension vectors) dominate
  * nothing and are all kept, per the standard definition.
  *
  * Dimensions must be non-null BIGINT (enforced) — the comparisons
  * are integer-exact, so the result is partitioning-invariant and
  * DuckDB-oracle-checkable with a `NOT EXISTS` dominance query.
  */
object Skyline {

  /** 2-D frontier maintenance step for the streaming register: insert
    * `p` into frontier `pts`, dropping it if dominated and pruning
    * points it dominates. Identical points are all kept (ties dominate
    * nothing), matching [[skylineMax]]. The final frontier is a
    * function of the SET of inserted points — insertion order and
    * batch splits cannot change it (property-spec'd), which is what
    * makes the streaming register ≡ the batch operator. */
  def insert2(pts: List[(Long, Long)], p: (Long, Long))
      : List[(Long, Long)] = {
    def dom(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)
    if (pts.exists(q => dom(q, p))) pts
    else p :: pts.filterNot(q => dom(p, q))
  }

  /** Pareto frontier of `df` maximizing every column in `dims`
    * (non-null LongType). Non-dimension columns ride along as
    * payload. Output order is unspecified — callers sort. */
  def skylineMax(df: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "skyline needs at least one dimension")
    val schema = df.schema
    val idx = dims.map(schema.fieldIndex).toArray
    idx.foreach { i =>
      require(schema(i).dataType == LongType,
        s"skyline dim ${schema(i).name} must be BIGINT, " +
          s"got ${schema(i).dataType}")
    }

    // a dominates b: >= on every dim, > on at least one.
    def dominates(a: Row, b: Row): Boolean = {
      var strict = false
      var i = 0
      while (i < idx.length) {
        val av = a.getLong(idx(i)); val bv = b.getLong(idx(i))
        if (av < bv) return false
        if (av > bv) strict = true
        i += 1
      }
      strict
    }

    // Lexicographic descending on the dim vector: any dominator of r
    // sorts strictly before r, so the forward scan below is exact.
    def lexDesc(a: Row, b: Row): Boolean = {
      var i = 0
      while (i < idx.length) {
        val av = a.getLong(idx(i)); val bv = b.getLong(idx(i))
        if (av != bv) return av > bv
        i += 1
      }
      false
    }

    def localPass(it: Iterator[Row]): Iterator[Row] = {
      val sorted = it.toArray.sortWith(lexDesc)
      val sky = new ArrayBuffer[Row]
      var i = 0
      while (i < sorted.length) {
        val r = sorted(i)
        if (!sky.exists(s => dominates(s, r))) sky += r
        i += 1
      }
      sky.iterator
    }

    val enc = Encoders.row(schema)
    val local = df.mapPartitions(localPass _)(enc)
    // Merge pass over the output-sized survivors. repartition(1), NOT
    // coalesce(1): coalesce is a narrow dependency, so Spark would fuse
    // the upstream per-partition passes into the single merged task and
    // run them SEQUENTIALLY — silently losing the two-phase plan's
    // parallelism (r7 advice). The repartition shuffle moves only the
    // already-tiny partition skylines, and the stage boundary it forces
    // is exactly what keeps the local passes parallel.
    local.repartition(1).mapPartitions(localPass _)(enc)
  }
}
