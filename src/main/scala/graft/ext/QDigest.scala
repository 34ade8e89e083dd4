package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deterministic q-digest — the mergeable QUANTILE summary that completes
  * the sketch family (HLL/KMV count distincts, CMS/Misra–Gries count
  * frequencies, DGIM counts windows, Bloom tests membership; none of them
  * can answer "what is p95?"). Shrivastava, Buragohain, Agrawal & Suri,
  * "Medians and Beyond: New Aggregation Techniques for Sensor Networks",
  * SenSys 2004.
  *
  * The summary lives on the conceptual complete binary tree over the
  * integer universe [0, 2^logU): node 1 is the root, node v has children
  * 2v and 2v+1, and the leaf for value x is node 2^logU + x. A digest is
  * a sparse (node → count) map satisfying, for compression factor k and
  * stream length n with thr = ⌊n/k⌋:
  *
  *   (1) every non-leaf node's count ≤ thr, and
  *   (2) every present non-root node's (self + sibling + parent) count
  *       sum > thr — otherwise the triple is merged upward.
  *
  * Those two invariants give |digest| ≤ 3k nodes REGARDLESS of n and of
  * the universe size, and a quantile answer whose true rank is within
  * logU·thr of the target — the fixed-size, bounded-error state that a
  * per-group p50/p95 needs at 100 TB where the exact value histogram
  * (up to 2^logU rows per group) no longer fits anywhere.
  *
  * Everything here is integer arithmetic on Long node ids and counts —
  * no float enters the sketch, so the THEOREMS (size and rank-error
  * bounds) are engine-portable facts an oracle can assert as literals
  * while the engine proves them against the live sketch (the q226
  * Misra–Gries discipline). The digest CONTENT is, like every mergeable
  * summary built by parallel reduction, dependent on the merge tree —
  * consumers emit only order-invariant facts (exact quantiles, counts,
  * theorem booleans), never raw nodes.
  *
  * 100 TB shape: per-partition builders hold ≤ ~2·3k entries (inserts
  * compress lazily at a soft cap), partials merge associatively through
  * `treeAggregate` — the driver crossing is ONE ≤ 3k-node digest per
  * group, not partitions × state, and nothing about the plan depends on
  * the number of distinct values.
  */
object QDigest {

  /** A compressed q-digest: `nodes` maps tree node id → count.
    * Invariants hold w.r.t. `n` and `k` (see object doc). */
  final case class Digest(logU: Int, k: Int, n: Long, nodes: Map[Long, Long]) {
    def errBoundRanks: Long = logU.toLong * (n / k)
  }

  private def requireParams(logU: Int, k: Int): Unit = {
    require(logU >= 1 && logU <= 40, s"logU out of range: $logU")
    require(k >= 1 && k <= (1 << 20), s"k out of range: $k")
  }

  /** Depth of node v (root = depth 0); leaves sit at depth logU. */
  private def depthOf(v: Long): Int =
    63 - java.lang.Long.numberOfLeadingZeros(v)

  /** Inclusive value range [min, max] covered by node v. */
  private[ext] def rangeOf(v: Long, logU: Int): (Long, Long) = {
    val d = depthOf(v)
    val width = 1L << (logU - d)
    val mn = (v - (1L << d)) * width
    (mn, mn + width - 1)
  }

  /** One full bottom-up compression pass over a mutable node map:
    * at each level (leaves first) a sibling pair whose triple sum with
    * its parent is ≤ ⌊n/k⌋ folds into the parent. Merging only ever
    * GROWS ancestor counts, so a triple that survives its level's check
    * can never become mergeable later in the pass — one pass restores
    * both invariants. */
  private def compressInPlace(m: scala.collection.mutable.HashMap[Long, Long],
                              n: Long, k: Int, logU: Int): Unit = {
    val thr = n / k
    var depth = logU
    while (depth >= 1) {
      val lo = 1L << depth
      val hi = lo << 1
      val ids = m.keysIterator.filter(v => v >= lo && v < hi).toArray
      java.util.Arrays.sort(ids)
      var i = 0
      while (i < ids.length) {
        val v = ids(i)
        val sib = v ^ 1L
        val p = v >>> 1
        val cv = m.getOrElse(v, 0L)
        val cs = m.getOrElse(sib, 0L)
        val cp = m.getOrElse(p, 0L)
        val tot = cv + cs + cp
        if (tot <= thr) {
          if (tot > 0L) m.update(p, tot)
          m.remove(v)
          m.remove(sib)
        }
        // a sibling adjacent in the sorted id array was just handled
        if (i + 1 < ids.length && ids(i + 1) == sib) i += 2 else i += 1
      }
      depth -= 1
    }
  }

  /** Mutable partition-local builder: insert values, compress lazily
    * once the map outgrows 2·3k entries (amortized O(1) per insert;
    * peak memory stays sketch-sized no matter how many rows the
    * partition holds). Serializable so `treeAggregate` can ship it. */
  final class Builder(val logU: Int, val k: Int) extends Serializable {
    private val cap = 2 * 3 * k
    private[ext] val m = new scala.collection.mutable.HashMap[Long, Long]
    private[ext] var n = 0L

    /** Insert one value, clamped into [0, 2^logU). */
    def add(x: Long): Unit = {
      val u = 1L << logU
      val v = if (x < 0L) 0L else if (x >= u) u - 1L else x
      val leaf = u + v
      m.update(leaf, m.getOrElse(leaf, 0L) + 1L)
      n += 1L
      if (m.size > cap) compressInPlace(m, n, k, logU)
    }

    /** Seed a stored digest node back in (streaming-register restore:
      * node counts are add-mergeable, so replaying a persisted digest's
      * (node, count) pairs reconstructs an equivalent builder). */
    def putNode(node: Long, c: Long): Unit = {
      require(node >= 1L && node < (2L << logU), s"node $node out of tree")
      require(c > 0L, s"non-positive node count $c")
      m.update(node, m.getOrElse(node, 0L) + c)
      n += c
      if (m.size > cap) compressInPlace(m, n, k, logU)
    }

    /** Fold another builder's state in (associative up to digest
      * content; both operand orders yield VALID digests). */
    def merge(o: Builder): Builder = {
      o.m.foreach { case (v, c) => m.update(v, m.getOrElse(v, 0L) + c) }
      n += o.n
      if (m.size > cap) compressInPlace(m, n, k, logU)
      this
    }

    /** Final compression with the full count — the returned digest
      * satisfies both invariants w.r.t. the GLOBAL n. */
    def result(): Digest = {
      compressInPlace(m, n, k, logU)
      Digest(logU, k, n, m.toMap)
    }
  }

  /** Merge two compressed digests (count-sum, then one compression pass
    * at the combined n). */
  def merge(a: Digest, b: Digest): Digest = {
    require(a.logU == b.logU && a.k == b.k,
      s"incompatible digests: (${a.logU},${a.k}) vs (${b.logU},${b.k})")
    val m = scala.collection.mutable.HashMap.empty[Long, Long]
    a.nodes.foreach { case (v, c) => m.update(v, c) }
    b.nodes.foreach { case (v, c) => m.update(v, m.getOrElse(v, 0L) + c) }
    compressInPlace(m, a.n + b.n, a.k, a.logU)
    Digest(a.logU, a.k, a.n + b.n, m.toMap)
  }

  /** Quantile query: nodes sorted by increasing range max (ties: deeper /
    * narrower node first, i.e. larger range min first — post-order),
    * counts accumulated until the running sum reaches `targetRank`
    * (1-based); the answer is that node's range max. The true rank of
    * the answer differs from targetRank by at most logU·⌊n/k⌋ (the
    * counts parked on the ≤ logU ancestors straddling the answer, each
    * ≤ ⌊n/k⌋ by invariant 1). */
  def quantile(d: Digest, targetRank: Long): Long = {
    require(targetRank >= 1 && targetRank <= d.n,
      s"targetRank $targetRank outside [1, ${d.n}]")
    val arr = d.nodes.toArray
    val keyed = arr.map { case (v, c) =>
      val (mn, mx) = rangeOf(v, d.logU)
      (mx, -mn, c)
    }
    scala.util.Sorting.quickSort(keyed)(Ordering.Tuple3(
      Ordering.Long, Ordering.Long, Ordering.Long))
    var cum = 0L
    var i = 0
    while (i < keyed.length) {
      cum += keyed(i)._3
      if (cum >= targetRank) return keyed(i)._1
      i += 1
    }
    keyed.last._1
  }

  /** Build one digest PER GROUP over a `(group: String, value: Long)`
    * Dataset with a tree reduction: partition-local builders, then
    * `treeAggregate` merges — the driver receives one ≤ 3k-node digest
    * per group however many partitions (or petabytes) contributed.
    * Values outside [0, 2^logU) are clamped to the domain edges. */
  def buildPerGroup(ds: Dataset[(String, Long)], logU: Int, k: Int)
      : Map[String, Digest] = {
    requireParams(logU, k)
    val zero = scala.collection.mutable.HashMap.empty[String, Builder]
    val folded = ds.rdd.treeAggregate(zero)(
      seqOp = { (acc, row) =>
        acc.getOrElseUpdate(row._1, new Builder(logU, k)).add(row._2)
        acc
      },
      combOp = { (a, b) =>
        b.foreach { case (g, bld) =>
          a.get(g) match {
            case Some(mine) => mine.merge(bld)
            case None       => a.update(g, bld)
          }
        }
        a
      })
    folded.iterator.map { case (g, bld) => (g, bld.result()) }.toMap
  }

  /** The audit shape consumed by q275: per (group, φ) the digest's
    * answer plus the integer facts the oracle re-derives exactly —
    * target rank ⌈φ·n⌉ (φ in ppm) and the theorem error bound. */
  final case class Estimate(group: String, phiPpm: Long, n: Long,
                            targetRank: Long, vhat: Long,
                            errBound: Long, digestNodes: Int)

  /** Run the φ grid against every group's digest. */
  def estimates(digests: Map[String, Digest], phisPpm: Seq[Long])
      : Seq[Estimate] =
    digests.toSeq.sortBy(_._1).flatMap { case (g, dg) =>
      phisPpm.map { phi =>
        val t = math.max(1L, (phi * dg.n + 999999L) / 1000000L)
        Estimate(g, phi, dg.n, t, quantile(dg, t), dg.errBoundRanks,
          dg.nodes.size)
      }
    }
}
