package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and data-mixing operators for training-corpus
  * assembly — the "sample X% of language L / balance sources to a token
  * budget" stage every large-scale pipeline runs after dedup and quality
  * filtering (no counterpart in the reference; standard practice per the
  * public corpus papers — e.g. the C4/Pile/ROOTS pipeline descriptions).
  *
  * Determinism: membership is a pure function of the row's id — a uniform
  * [0,1) draw derived from `md5(id)` — never `rand()`. Re-runs, retries
  * and the SQL oracle all select the SAME rows; at 100 TB this is what
  * makes a sampled corpus reproducible and auditable. Map-side only: the
  * filter carries zero shuffle and composes with scan pruning.
  *
  * Engine parity: the draw is the first 8 hex chars of the md5, compared
  * LEXICOGRAPHICALLY against a per-stratum 8-hex threshold — fixed-width
  * lowercase hex compares identically to the integer it encodes, so any
  * engine with md5() reproduces membership bit-for-bit (no float
  * arithmetic anywhere). */
object Sampling {

  /** rate ∈ [0,1] → threshold string; the draw keeps a row iff
    * draw < threshold, i.e. P(keep) = floor(rate·2^32)/2^32 — except
    * rate 1.0, which returns "g" (lexicographically above every 8-hex
    * draw) so a keep-everything stratum really keeps EVERY row; clamping
    * to "ffffffff" would silently drop the 1-in-2^32 docs whose draw is
    * exactly that, i.e. a few documents per 10^10 at corpus scale. */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of range: $rate")
    if (rate == 1.0) "g"
    else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** The uniform draw column: first 8 hex chars of md5 of the stringified
    * id. SQL twin: `substr(md5(CAST(id AS VARCHAR)), 1, 8)`. */
  def draw(idCol: Column): Column =
    substring(md5(idCol.cast("string").cast("binary")), 1, 8)

  /** Cumulative Poisson(1) CDF × 2^32 as 8-hex literals (k = 0..9) —
    * HARD CONSTANTS from the public series e⁻¹·Σ 1/k!, precomputed so
    * the runtime never evaluates a transcendental (the q176 Benford
    * discipline: literal thresholds, zero libm-parity exposure). */
  private[graft] def poissonCdfHexForTest: Seq[String] = poissonCdfHex

  private val poissonCdfHex = Seq(
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f", "fffffe21")

  /** Deterministic Poisson(1) bootstrap weight for a (row, replicate)
    * key — the streaming-bootstrap of Chamandy et al. 2012 ("Estimating
    * Uncertainty for Massive Data Streams", Google TR): the multinomial
    * bootstrap's n-out-of-n resample needs global coordination, but as
    * n → ∞ each row's multiplicity in a resample converges to
    * Poisson(1), which is a PER-ROW draw — embarrassingly parallel,
    * shuffle-free, and (on the [[draw]] md5 algebra) bit-reproducible
    * on any engine. Weight = inverse-CDF lookup of the uniform draw
    * against the literal threshold table (w > 9 truncates to 10,
    * P ≈ 1.1e-7 — part of the operator's contract, mirrored in SQL). */
  def poissonWeight(keyCol: Column): Column = {
    val d = draw(keyCol)
    poissonCdfHex.zipWithIndex.reverse.foldLeft(lit(10L): Column) {
      case (els, (h, k)) => when(d < lit(h), lit(k.toLong)).otherwise(els)
    }
  }

  /** Poisson-bootstrap replicate registers over a doc profile
    * `(doc_id, source, quality)`: per (source, replicate b < nReps) the
    * shifted weighted sum Σ w·(quality + 50) and the weight sum Σ w, with
    * w the [[poissonWeight]] of `doc_id|b` — q204's replicate sums.
    * Both fold with `+` (w ≥ 0, quality ≥ −50), so the same function
    * run on a document stream in Update mode keeps the registers at
    * ingest: n_sources × nReps state-store rows, no global n, no
    * coordination (the construction's purpose). */
  def bootstrapRegisters(profile: DataFrame, nReps: Int): DataFrame =
    profile
      .withColumn("b", explode(sequence(lit(0), lit(nReps - 1))))
      .withColumn("w", poissonWeight(
        concat(col("doc_id").cast("string"), lit("|"), col("b").cast("string"))))
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * (col("quality") + lit(50L))).as("swq50"),
        sum(col("w")).as("sw"))

  /** The SQL twin of [[poissonWeight]] over a VARCHAR key expression. */
  def poissonWeightSql(keyExpr: String): String = {
    val cases = poissonCdfHex.zipWithIndex.map { case (h, k) =>
      s"WHEN substr(md5($keyExpr), 1, 8) < '$h' THEN $k" }.mkString(" ")
    s"CAST(CASE $cases ELSE 10 END AS BIGINT)"
  }

  /** Deterministic train/validation/test split: the md5 draw against two
    * cumulative thresholds labels every row reproducibly (same id → same
    * split on any engine, any run, any partitioning) — the
    * dataset-versioning property a training pipeline needs from its
    * split. Zero shuffle, map-side only. `trainRate + valRate <= 1`;
    * the remainder is `test`. */
  def splitAssign(df: DataFrame, idCol: String,
                  trainRate: Double, valRate: Double): DataFrame = {
    require(trainRate >= 0 && valRate >= 0 && trainRate + valRate <= 1.0,
      "rates must be non-negative and sum to at most 1")
    val tTrain = hexThreshold(trainRate)
    val tVal = hexThreshold(trainRate + valRate)
    val d = draw(col(idCol))
    df.withColumn("draw", d)
      .withColumn("split",
        when(d < lit(tTrain), lit("train"))
          .when(d < lit(tVal), lit("val"))
          .otherwise(lit("test")))
  }

  /** Leakage-free (duplicate-aware) split: labels train/val/test on the
    * GROUP key — a near-dup component id, a domain, an author — so every
    * member of a group lands in the SAME split. This is the constraint
    * that keeps near-duplicates from straddling train and test and
    * silently inflating eval numbers (the split-stage twin of benchmark
    * decontamination; see Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", §6 on train/test leakage through
    * duplicates). Rows with NULL `groupCol` (no duplicate cluster) fall
    * back to their own id — singleton groups. Same md5-draw algebra as
    * [[splitAssign]]: deterministic on any engine, and the join that
    * attaches the group key is the only shuffle (the draw itself stays
    * map-side). Split SIZES now deviate from the rates by group-size
    * variance — unavoidable under the grouping constraint. */
  def groupAwareSplit(df: DataFrame, idCol: String, groupCol: String,
                      trainRate: Double, valRate: Double): DataFrame =
    splitAssign(
      df.withColumn("group_key", coalesce(col(groupCol), col(idCol))),
      "group_key", trainRate, valRate)

  /** Quality-curriculum binning: per stratum, rank documents by
    * `scoreCol` (best first, `idCol` tiebreak) into `nBins` equal-depth
    * NTILE bins and report each bin's document count, token mass and
    * score envelope — the manifest a curriculum schedule samples from
    * (highest-quality bins early / upweighted, per the data-curriculum
    * recipes in the public corpus papers). The ntile comes from
    * ops.ShardedRank, NOT `ntile().over(partitionBy(stratum))`: strata
    * are low-cardinality enums, so a per-stratum window caps
    * parallelism at the stratum count and serializes when one stratum
    * dominates (the r10 q155 counter finding) — the range-sharded form
    * bins identically with no per-stratum task.
    *
    * `scoreCol` must be numeric and non-null: descending order comes
    * from NEGATING the score (ShardedRank's documented contract), and
    * `-col` sorts NULL first / flips NaN where a `.desc` window sorted
    * them last — a null score would land in the best bin instead of
    * erroring. Pre-filter or coalesce nulls before calling. */
  def curriculumBins(df: DataFrame, strataCol: String, scoreCol: String,
                     idCol: String, tokensCol: String, nBins: Int): DataFrame =
    graft.ops.ShardedRank.withNtile(
        df.select(col(strataCol), col(idCol), col(scoreCol), col(tokensCol)),
        Seq(strataCol), -col(scoreCol), col(idCol), nBins, "bin")
      .groupBy(col(strataCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("bin_tokens"),
        min(col(scoreCol)).as("min_score"),
        max(col(scoreCol)).as("max_score"))

  /** Greedy token-budget selection: per stratum, take documents in
    * quality order (best first, `idCol` tiebreak) while the INCLUSIVE
    * running token sum stays within `budgetTokens` — the "best N tokens
    * per domain" selection step of a budgeted corpus build. Exact
    * integer prefix sums via ops.ShardedRank.runningSum — NOT a window
    * partitioned by the low-cardinality stratum enum (the r10 q155
    * serialization shape); the range shard computes the identical
    * inclusive sums with no per-stratum task. A head document alone
    * larger than the budget is dropped with everything after it — the
    * budget is a hard cap, not a lower bound. Returns the selected rows
    * with their `cum_tokens` audit column. `scoreCol` must be numeric
    * and non-null (descending-by-negation — see [[curriculumBins]]);
    * a null score would be selected FIRST, not rejected. */
  def budgetSelect(df: DataFrame, strataCol: String, scoreCol: String,
                   idCol: String, tokensCol: String,
                   budgetTokens: Long): DataFrame =
    graft.ops.ShardedRank.runningSum(
        df.select(col(strataCol), col(idCol), col(scoreCol), col(tokensCol)),
        Seq(strataCol), Seq(-col(scoreCol), col(idCol)), col(tokensCol),
        "cum_tokens", exclusive = false)
      .where(col("cum_tokens") <= budgetTokens)

  /** Stratified Bernoulli sample: per-stratum rates with a default for
    * unlisted strata. Returns the input rows that survive, plus the
    * `draw` and `threshold` columns for auditability. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Seq[(String, Double)],
                       defaultRate: Double): DataFrame = {
    val thr = rates.foldRight(lit(hexThreshold(defaultRate)): Column) {
      case ((stratum, rate), els) =>
        when(col(strataCol) === stratum, lit(hexThreshold(rate))).otherwise(els)
    }
    df.withColumn("draw", draw(col(idCol)))
      .withColumn("threshold", thr)
      .where(col("draw") < col("threshold"))
  }

  /** Deterministic sequence assignment for packing: within each stratum,
    * documents in id order are assigned seq_id = exclusive
    * prefix-token-sum div `budgetTokens` — integer-exact, one window
    * pass. NOT a strict bin pack: a document straddling a boundary
    * belongs wholly to the sequence its prefix starts in (a sequence may
    * overflow by up to one document's tokens), and a document larger
    * than the budget skips the ids it spans — callers sizing batches
    * must treat `budgetTokens` as a lower bound per closed sequence.
    * Scale shape: the exclusive prefix sum is ops.ShardedRank.runningSum
    * — NOT a window partitioned by the low-cardinality stratum enum (the
    * r10 q155 serialization shape); the range shard packs identically
    * with no per-stratum task. Returns per-doc assignments; aggregate
    * per (stratum, seq_id) for the manifest. */
  def packSequences(df: DataFrame, strataCol: String, idCol: String,
                    tokensCol: String, budgetTokens: Long): DataFrame =
    graft.ops.ShardedRank.runningSum(
        df.select(col(strataCol), col(idCol), col(tokensCol)),
        Seq(strataCol), Seq(col(idCol)), col(tokensCol),
        "prior_tokens", exclusive = true)
      .withColumn("seq_id", expr(s"prior_tokens div $budgetTokens"))

  /** Token-budget mixing plan: per (stratum, source) cell — document and
    * token counts, the cell's share of the corpus in ppm, and the
    * deterministic per-cell sampling rate (ppm) that downsamples every
    * cell to its equal share of `budgetTokens` (cells under budget keep
    * everything: rate = 1e6). Integer arithmetic throughout — exact on
    * any engine. `tokensCol` is a precomputed per-doc token count. */
  def mixingPlan(df: DataFrame, strataCol: String, sourceCol: String,
                 tokensCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.groupBy(col(strataCol), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokensCol)).as("n_tokens"))
    val everything = Window.partitionBy()
    cells
      .withColumn("total_tokens", sum(col("n_tokens")).over(everything))
      .withColumn("n_cells", count(lit(1)).over(everything))
      // `div` = exact integral division; the ppm numerator goes through
      // DECIMAL(38,0) so a 100 TB corpus (~1e13 tokens × 1e6) cannot
      // overflow the ANSI bigint product (DuckDB twin: HUGEINT).
      .withColumn("share_ppm", expr(
        "CASE WHEN total_tokens = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_tokens) div total_tokens AS BIGINT) END"))
      .withColumn("cell_budget", expr(s"$budgetTokens div n_cells"))
      // An all-empty cell (0 tokens) is trivially under budget: keep all.
      .withColumn("sample_rate_ppm", expr(
        "CASE WHEN n_tokens = 0 THEN CAST(1000000 AS BIGINT) ELSE " +
          "least(CAST(1000000 AS BIGINT), " +
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * cell_budget) div n_tokens AS BIGINT)) END"))
      .select(col(strataCol), col(sourceCol), col("n_docs"), col("n_tokens"),
        col("share_ppm"), col("cell_budget"), col("sample_rate_ppm"))
  }

  /** DSIR importance scores — Data Selection via Importance Resampling
    * (Xie et al. 2023, arXiv:2302.03169): score every raw document by how
    * target-like its hashed-bigram profile is, so a top-k (or
    * Gumbel-noised) selection resamples the raw corpus toward the target
    * distribution.
    *
    * Faithful to the paper's hashed n-gram variant: features are adjacent
    * token bigrams hashed into `buckets` buckets; bucket log-probabilities
    * are Laplace-smoothed (+1 / +buckets) bag-of-bigram estimates over the
    * TARGET slice (rows where `isTarget`) vs the FULL raw corpus; a doc's
    * score is Σ_b count_b(doc) · log(p_target(b)/p_raw(b)).
    *
    * Engine parity: the per-bucket log-ratio collapses to ONE ln() of a
    * rational of exact integer counts, quantized floor(×1000) to BIGINT
    * (the q97/q105 discipline); doc scores are then pure BIGINT
    * Σ count·λ — bit-stable under any summation order.
    *
    * 100 TB shape: one pair-row scan, one (doc,bucket) map-side-combined
    * groupBy, a `buckets`-row model table broadcast back onto it — the
    * model is fixed-size driver state exactly like the PQ codebooks. */
  /** The hashed-feature half of [[dsirScores]]: per-document counts of
    * md5-hashed adjacent-bigram buckets — the profile DSIR materializes
    * ONCE per corpus and refits against any number of target slices
    * (SessionCache it at the query layer; [[dsirScores]] transient-
    * persists it for standalone use). */
  def dsirBucketCounts(df: DataFrame, textCol: String, idCol: String,
                       buckets: Int = 512): DataFrame =
    TextAnalysis.tokenPairRows(df, textCol, idCol)
      .withColumn("bucket", expr(
        s"CAST(conv(substring(md5(CAST(concat(tok_a, '_', tok_b) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $buckets"))
      .groupBy(col("doc"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Doc-local twin of [[dsirBucketCounts]]: the per-doc bucket counting
    * happens inside one typed mapPartitions (no corpus-global aggregate),
    * so the profile can be maintained APPEND-ONLY on a document stream —
    * exact, because bucket counts are a pure per-document function.
    * Spec-pinned equal to the batch groupBy (PipelineOpsSpec). */
  def dsirBucketCountsLocal(df: DataFrame, textCol: String, idCol: String,
                            buckets: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (doc, text) =>
          if (text == null) Iterator.empty
          else {
            val t = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
            if (t.length < 2) Iterator.empty
            else {
              val m = scala.collection.mutable.HashMap.empty[Long, Long]
              var i = 0
              while (i < t.length - 1) {
                // First 8 md5 hex chars = first 4 digest bytes, matching
                // the batch path's conv(substring(md5(g),1,8),16,10).
                val dig = md.digest((t(i) + "_" + t(i + 1)).getBytes("UTF-8"))
                var v = 0L; var j = 0
                while (j < 4) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
                val b = v % buckets
                m.update(b, m.getOrElse(b, 0L) + 1L)
                i += 1
              }
              m.iterator.map { case (b, c) => (doc, b, c) }
            }
          }
        }
      }
      .toDF("doc", "bucket", "c")
  }

  def dsirScores(df: DataFrame, textCol: String, idCol: String,
                 isTarget: Column, buckets: Int = 512): DataFrame = {
    // (doc, bucket) counts feed both the model fit and the scoring join —
    // persist the compact profile instead of re-running the pair scan
    // twice (released by the runner via TransientCache).
    val docBuckets = graft.ops.TransientCache.persist(
      dsirBucketCounts(df, textCol, idCol, buckets))
    dsirScoresFromBuckets(df, docBuckets, idCol, isTarget, buckets)
  }

  /** [[dsirScores]] over a prebuilt (already-persisted) `(doc, bucket, c)`
    * profile — the session-artifact form. */
  def dsirScoresFromBuckets(df: DataFrame, docBuckets: DataFrame,
                            idCol: String, isTarget: Column,
                            buckets: Int): DataFrame = {
    val flags = df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc"), isTarget.as("is_target"))
    val withFlag = docBuckets.join(flags, "doc")
    // Per-bucket counts for target and raw (raw = everything).
    val model = withFlag.groupBy(col("bucket"))
      .agg(sum(when(col("is_target"), col("c")).otherwise(lit(0L))).as("tc"),
        sum(col("c")).as("rc"))
    // Totals are two scalars; cross-joined as a 1-row broadcast literal.
    val totals = model.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val lambda = model.crossJoin(broadcast(totals))
      // λ_b = floor(1000·ln( (tc+1)/(tt+B) ÷ (rc+1)/(rt+B) )) — one ln of
      // an integer rational; +1/+B Laplace keeps target-absent buckets
      // finite (they score negative, as they should).
      //
      // ACCEPTED RISK (r6 advice): unlike the engine's integer-exact
      // paths, λ's exactness vs the DuckDB oracle rests on JVM Math.log
      // and libm agreeing to the last ulp on the same rational — neither
      // ln is correctly rounded, so a 1-ulp divergence EXACTLY at a
      // floor(1000·ln) quantization boundary would flip λ by 1. Same
      // posture as the q97 PMI / q105 LM-score logs (documented there):
      // the operands are identical integer rationals on both sides, the
      // boundary set has measure ~0 over them, and three rounds of
      // oracle runs have never tripped it. If it ever does, the fix is
      // mechanical: compare λ with a ±1 tolerance on boundary buckets or
      // move the quantization into the integer domain via exp-bracketing.
      .withColumn("lambda", expr(
        s"""CAST(floor(1000 * ln(
           |  (CAST(tc + 1 AS DOUBLE) * CAST(rt + $buckets AS DOUBLE)) /
           |  (CAST(rc + 1 AS DOUBLE) * CAST(tt + $buckets AS DOUBLE))
           |)) AS BIGINT)""".stripMargin))
      .select(col("bucket"), col("lambda"))
    docBuckets.join(broadcast(lambda), "bucket")
      .groupBy(col("doc"))
      .agg(sum(col("c") * col("lambda")).as("score"),
        sum(col("c")).as("n_bigrams"))
  }

  /** UniMax language-balanced budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining", ICLR 2023) — the successor
    * to q120's temperature sampling: given per-language token masses, a
    * total token budget and a per-language epoch cap E, water-fill the
    * budget uniformly across languages, capping each language at E
    * epochs of its own data (so low-resource languages are never
    * repeated past E, and the freed budget flows to the rest).
    *
    * The paper's greedy (ascending by n_l: give each language
    * min(E·n_l, remaining/langs_left)) admits a closed form because the
    * capped set is always an ascending-order PREFIX: language i (1-based
    * rank by (n_l, lang)) is capped iff
    * `E·n_i·(L−i+1) < B − E·prefix_{i−1}` — an all-integer predicate
    * (the proof is the standard water-filling exchange argument; the
    * predicate is monotone, true exactly on the prefix, which
    * `SamplingPropertySpec` pins against the sequential greedy). Every
    * uncapped language then gets `(B − E·capped_mass) div (L−k)` — floor
    * division, with the sub-token remainder reported in `alloc_rem` on
    * each uncapped row rather than silently spread.
    *
    * Input: `counts` = one row per language `(langCol, tokensCol)` with
    * exact BIGINT token masses. The budget is `budgetPpm` ppm of the
    * total corpus token mass (floor), so the same query is meaningful at
    * every scale factor. Output: (lang, n_tokens, capped, alloc_tokens,
    * epochs_ppm) — integer-exact on any engine.
    *
    * 100 TB shape: `counts` is language-cardinality (≤ a few hundred
    * rows — model-sized), so the global window and the two 1-row
    * cross-joined scalar aggregates are driver-trivial; all corpus-scale
    * work happened upstream in the groupBy that produced `counts`. */
  def unimaxAlloc(counts: DataFrame, langCol: String, tokensCol: String,
                  budgetPpm: Long, epochCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = counts.select(col(langCol).as("lang"),
      col(tokensCol).cast("bigint").as("n_tokens"))
    val asc = Window.orderBy(col("n_tokens"), col("lang"))
    val prior = asc.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = base
      .withColumn("i", row_number().over(asc).cast("bigint"))
      .withColumn("prefix", coalesce(sum(col("n_tokens")).over(prior), lit(0L)))
      .withColumn("n_langs", count(lit(1)).over(Window.partitionBy()))
      // ppm numerator through DECIMAL(38,0): 1e6 × a 100 TB corpus'
      // ~1e13 tokens would overflow the ANSI bigint product (the
      // mixingPlan discipline; DuckDB twin: HUGEINT).
      .withColumn("budget", expr(
        s"CAST((CAST($budgetPpm AS DECIMAL(38,0)) * sum(n_tokens) OVER ()) div 1000000 AS BIGINT)"))
      .withColumn("capped", expr(
        s"$epochCap * n_tokens * (n_langs - i + 1) < budget - $epochCap * prefix"))
    val caps = ranked.agg(
      sum(when(col("capped"), col("n_tokens")).otherwise(lit(0L))).as("capped_mass"),
      sum(when(col("capped"), lit(1L)).otherwise(lit(0L))).as("k"),
      count(lit(1)).as("n_l"))
    ranked.crossJoin(broadcast(caps))
      .withColumn("alloc_tokens", expr(
        s"""CASE WHEN capped THEN $epochCap * n_tokens
           |     WHEN n_l = k THEN CAST(0 AS BIGINT)
           |     ELSE (budget - $epochCap * capped_mass) div (n_l - k) END""".stripMargin))
      .withColumn("alloc_rem", expr(
        s"""CASE WHEN capped OR n_l = k THEN CAST(0 AS BIGINT)
           |     ELSE (budget - $epochCap * capped_mass) % (n_l - k) END""".stripMargin))
      .withColumn("epochs_ppm", expr(
        "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (1000000 * alloc_tokens) div n_tokens END"))
      .select(col("lang"), col("n_tokens"), col("capped"),
        col("alloc_tokens"), col("alloc_rem"), col("epochs_ppm"))
  }
}
