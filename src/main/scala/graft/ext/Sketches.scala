package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed cardinality sketches (SURVEY.md §2.4 A8 — the reference
  * estimates member-set cardinality before export, ref
  * `backend/olap_service.py` export-estimate path; Spark's own
  * `approx_count_distinct` is HLL++ but its estimate is not reproducible
  * by an external oracle).
  *
  * This is a from-first-principles HyperLogLog (Flajolet et al. 2007)
  * built integer-exact so ANY engine reproduces the registers and the
  * estimate bit-for-bit: the hash stream is md5 (portable), bucket and
  * rank come from fixed hex slices, and the harmonic sum is computed in
  * scaled BIGINT (Σ 2^(48−r) — exact, order-independent) with exactly one
  * float division at the end (IEEE-deterministic on identical operands).
  *
  * 100 TB shape: registers are a `(group, bucket) → max(rank)` aggregate —
  * map-side combined, fixed 2^b rows per group regardless of input size,
  * and mergeable across partitions/days by the same `max` (the whole point
  * of HLL). The exact `count_distinct` emitted alongside for the oracle
  * audit is the expensive twin the sketch replaces at scale.
  */
object Sketches {

  /** Per-row register inputs: `(<groupCol>, bucket, rank)` for every
    * non-null key — the rows [[hllRegisters]] folds with `max`. */
  private def registerRows(df: DataFrame, keyCol: String,
                           groupCol: String, b: Int): DataFrame = {
    // b <= 12 keeps s_total in BIGINT: (m − n_buckets)·2^48 for an empty
    // sketch is m·2^48 = 2^(b+48), which must stay below 2^63 with head
    // room for s_seen (b=16 would overflow under ANSI mode whenever the
    // group has few distinct keys — exactly the sparse case).
    require(b % 4 == 0 && b >= 4 && b <= 12, "b must be 4, 8 or 12 (hex-aligned)")
    val hexChars = b / 4
    val h = md5(col(keyCol).cast("string").cast("binary"))
    val bucket = conv(substring(h, 1, hexChars), 16, 10).cast("int")
    // 32-bit rank stream from the next 8 hex chars: rank = leading zeros
    // + 1 = 33 − bitlength; the all-zero word gets the max rank 33.
    val x = conv(substring(h, hexChars + 1, 8), 16, 10).cast("long")
    val rank = when(x > 0, lit(33) - length(bin(x))).otherwise(lit(33))
      .cast("int")
    df.where(col(keyCol).isNotNull)
      .select(col(groupCol), bucket.as("bucket"), rank.as("rank"))
  }

  /** The register table: `(<groupCol>, bucket) → max(rank)`. The same
    * function is the streaming twin: run on a stream in Update mode, the
    * state store keeps one running `max` per key, so the registers after
    * any batch split equal the batch registers over the same rows
    * (StreamingSpec-pinned) — and state is hard-capped at groups × 2^b. */
  def hllRegisters(df: DataFrame, keyCol: String, groupCol: String,
                   b: Int): DataFrame =
    registerRows(df, keyCol, groupCol, b)
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rank")).as("r"))

  /** Estimate from an existing register table `(groupCol, bucket, r)` —
    * the second half of [[hllDistinct]], separated so MERGED registers
    * (union + max across splits/days/tables, the sketch's whole point)
    * estimate through the identical formula. Output:
    * `(groupCol, n_buckets, est_milli)`. */
  def hllEstimateFromRegisters(regs: DataFrame, groupCol: String,
                               b: Int): DataFrame = {
    val m = 1 << b
    // Σ 2^(−r) scaled by 2^48: r ≤ 33 so each term ≥ 2^15 stays integral,
    // and with b ≤ 12 the worst case m·2^48 = 2^60 fits BIGINT.
    val sums = regs.groupBy(col(groupCol))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 48 - r)")).as("s_seen"),
        count(lit(1)).as("n_buckets"))
      .withColumn("s_total",
        col("s_seen") + (lit(m.toLong) - col("n_buckets")) *
          lit(281474976710656L)) // empty registers contribute 2^(48−0)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val rawEst = (alpha * lit((m.toLong * m).toDouble) *
      lit(281474976710656.0)) / col("s_total").cast("double")
    val vEmpty = lit(m.toLong) - col("n_buckets")
    val lcEst = lit(m.toDouble) * log(lit(m.toDouble) / vEmpty.cast("double"))
    val est = when(rawEst <= lit(2.5 * m) && vEmpty > 0, lcEst)
      .otherwise(rawEst)
    sums.select(col(groupCol), col("n_buckets").cast("int").as("n_buckets"),
      floor(est * lit(1000.0)).cast("long").as("est_milli"))
  }

  /** Raw HyperLogLog distinct estimate per group, next to the exact count.
    *
    * Output: `<groupCol>, n_exact, n_buckets, est_milli` where `est_milli`
    * = floor(1000 · raw HLL estimate) (milli-quantized so the single
    * float rounding can't straddle engines) and `n_buckets` is the number
    * of non-empty registers.
    *
    * `b` is the bucket-bit width (must be a multiple of 4 so the bucket is
    * a whole hex prefix); m = 2^b registers. Applies the standard
    * linear-counting small-range correction (Flajolet §4: when the raw
    * estimate ≤ 2.5·m and empty registers remain, use m·ln(m/V)). The
    * correction's ln() is engine-stable here because its input domain is
    * the 2^b−1 rationals m/V — verified exhaustively (JVM Math.log vs
    * DuckDB ln agree on floor(1000·m·ln(m/V)) for every V at b=8). */
  def hllDistinct(df: DataFrame, keyCol: String, groupCol: String,
                  b: Int = 8): DataFrame = {
    val est = hllEstimateFromRegisters(
      hllRegisters(df, keyCol, groupCol, b), groupCol, b)
    val exact = df.where(col(keyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(countDistinct(col(keyCol)).as("n_exact"))
    exact.join(est, groupCol)
      .select(col(groupCol), col("n_exact"), col("n_buckets"),
        col("est_milli"))
  }

  /** Count-min-sketch bucket for a token column under hash row `j`:
    * md5-derived (engine-portable, the q101/q104 conversion convention),
    * `('0x'||hex)::BIGINT % w` on the SQL side. */
  private def cmsBucket(token: Column, j: Column, w: Int): Column =
    conv(substring(md5(concat(token, lit("#"), j.cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % w

  /** `df` (with a `token` column) fanned out to one row per hash row `j`
    * in [0, d), each with the token's CMS `bucket` — the one hashing of
    * the batch register build, q104's probe side and the streaming
    * register twin. */
  def cmsBuckets(df: DataFrame, d: Int, w: Int): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 2, s"bad CMS shape d=$d w=$w")
    df.withColumn("j", explode(array((0 until d).map(lit): _*)))
      .withColumn("bucket", cmsBucket(col("token"), col("j"), w).cast("int"))
  }

  /** The CMS register table over `(token, cnt)` rows: `(j, bucket) → Σ
    * cnt` — fixed d×w rows, mergeable by addition across
    * partitions/batches/days. Counts-first: it hashes the vocabulary, not
    * every occurrence, and Σcnt per bucket equals the per-occurrence
    * register table. The streaming twin is this function run in Update
    * mode on a stream of `(token, cnt = 1)` rows, one per occurrence. */
  def cmsRegisters(tokenCounts: DataFrame, d: Int = 4, w: Int = 512): DataFrame =
    cmsBuckets(tokenCounts, d, w)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("bucket_sum"))

  /** Misra–Gries k-counter heavy-hitter summary (Misra & Gries 1982),
    * merged across partitions with the prune rule of Agarwal et al. 2012
    * ("Mergeable Summaries", §3.1): each partition runs the classic
    * stream algorithm (increment a tracked key; else admit if a counter
    * is free; else decrement ALL counters and drop zeros — at most
    * n/(k+1) decrement events, so amortized O(1)/item); summaries merge
    * by counter addition followed by subtracting the (k+1)-th largest
    * count and dropping non-positives, which restores |summary| <= k.
    *
    * Deterministic guarantees that hold under ANY partitioning and merge
    * order (what q226 audits): est(x) <= true(x), and
    * true(x) − est(x) <= n/(k+1) — so every key with true count
    * > n/(k+1) is guaranteed present. The summary CONTENT beyond those
    * guarantees is order-dependent (inherent to MG), which is why q226
    * emits the invariant facts, never raw estimates.
    *
    * 100 TB shape: one scan, k-entry state per partition, driver
    * crossing = partitions × k counters (model-sized, the centroid
    * rule) — the CHEAP alternative to a full groupBy when only the
    * heavy tail matters. CMS (above) answers point queries with an
    * overestimate; MG lists the heavy keys with an underestimate.
    *
    * Returns `(n, summary)`: total non-null key count and the merged
    * counter map (<= k entries). */
  def misraGries(df: DataFrame, keyCol: String, k: Int): (Long, Map[String, Long]) = {
    require(k >= 1 && k <= 4096, s"k out of range: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .na.drop().as[String]
    val parts: Array[(Long, Array[(String, Long)])] =
      keys.rdd.mapPartitions { it =>
        val m = new scala.collection.mutable.HashMap[String, Long]
        var n = 0L
        it.foreach { key =>
          n += 1
          m.get(key) match {
            case Some(c) => m.update(key, c + 1)
            case None if m.size < k => m.update(key, 1L)
            case None =>
              val ks = m.keys.toArray
              var i = 0
              while (i < ks.length) {
                val c = m(ks(i)) - 1
                if (c == 0) m.remove(ks(i)) else m.update(ks(i), c)
                i += 1
              }
          }
        }
        Iterator.single((n, m.toArray))
      }.collect()
    var total = 0L
    val acc = new scala.collection.mutable.HashMap[String, Long]
    parts.foreach { case (n, arr) =>
      total += n
      arr.foreach { case (kk, c) => acc.update(kk, acc.getOrElse(kk, 0L) + c) }
      if (acc.size > k) {
        val sub = acc.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        val ks = acc.keys.toArray
        var i = 0
        while (i < ks.length) {
          val c = acc(ks(i)) - sub
          if (c <= 0) acc.remove(ks(i)) else acc.update(ks(i), c)
          i += 1
        }
      }
    }
    (total, acc.toMap)
  }

  // ------------------------------------------------------------------ AMS F2

  /** AMS tug-of-war F2 sketch plan fragments (Alon, Matias & Szegedy
    * 1996) — shared by the batch q276 query and the streaming ingest
    * register twin so the two compute bit-identical sums. 125 ±1 sign
    * functions come from the bits of ONE seeded md5 digest per key
    * (the registerRows/minhash slice convention): X_j = Σ_rows σ_j(key),
    * E[X_j²] = F2 = Σ_k c_k². The 126 counters (count + 125 bit sums)
    * are plain integers under addition — mergeable across partitions,
    * micro-batches and days — and the estimate is pure BIGINT algebra
    * (median of [[amsGroups]] means of [[amsPerGroup]] squares), so any
    * two engines replaying the same rows agree exactly. */
  val amsGroups = 5
  val amsPerGroup = 25
  val amsSigns: Int = amsGroups * amsPerGroup

  /** `(c0..c3)` unsigned-32-bit digest chunks of md5("f2|" + key) for
    * every non-null key — the per-row input both sketch faces fold. */
  def amsChunks(df: DataFrame, keyCol: String): DataFrame =
    // Fan out before the per-row md5: over a single-row-group scan the
    // digest otherwise runs in ONE task (guide §2.5; measured 1.65 s
    // single-task stage on q276). No-op on parallel/streaming inputs.
    graft.ops.Fanout.byKey(df.where(col(keyCol).isNotNull), col(keyCol))
      .withColumn("__ams_h",
        md5(concat(lit("f2|"), col(keyCol).cast("string")).cast("binary")))
      .select((0 to 3).map(c =>
        conv(substring(col("__ams_h"), c * 8 + 1, 8), 16, 10).cast("long")
          .as(s"c$c")): _*)

  /** The 125 sign-bit sum aggregates over [[amsChunks]] output. */
  def amsBitSums: Seq[Column] = (0 until amsSigns).map(amsBitSum)

  /** One sign-bit sum `s<j>` — exposed so batch consumers can split the
    * 125 sums into [[amsGroups]] NARROW aggregate legs: a single
    * 126-buffer aggregate stage exceeds `spark.sql.codegen.maxFields`
    * and runs interpreted (measured 10× per-row cost on q276), while
    * five 25-sum legs each stay inside whole-stage codegen. The
    * streaming register face keeps the single wide aggregate (its
    * micro-batches are latency- not throughput-bound). */
  def amsBitSum(j: Int): Column = {
    val ch = j / 32; val bp = 31 - (j % 32)
    sum(shiftright(col(s"c$ch"), bp).bitwiseAND(1)).as(s"s$j")
  }

  /** Estimate from an aggregated register row `(n, s0..s124)`:
    * X_j = 2·s_j − n, median of group means of X², all BIGINT.
    * Output `(n_rows, f2_est)`. */
  def amsEstimateFromSums(agg: DataFrame): DataFrame = {
    val x2 = agg.select(col("n") +: (0 until amsSigns).map { j =>
      val x = lit(2L) * col(s"s$j") - col("n")
      (x * x).as(s"x2_$j")
    }: _*)
    val means = x2.select(col("n") +: (0 until amsGroups).map { g =>
      expr(s"(${(0 until amsPerGroup).map(i => s"x2_${g * amsPerGroup + i}")
        .mkString(" + ")}) div $amsPerGroup").as(s"m$g")
    }: _*)
    means.select(col("n").as("n_rows"),
      element_at(array_sort(array((0 until amsGroups).map(g => col(s"m$g")): _*)),
        (amsGroups + 1) / 2).as("f2_est"))
  }
}
