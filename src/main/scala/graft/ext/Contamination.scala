package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for the training-data pipeline: benchmark
  * decontamination and corpus-wide duplicated-text measurement. No
  * counterpart in the reference (its closest surface is the dedup family,
  * SURVEY.md §2.4 A6); the algorithms follow the published recipes —
  * n-gram-collision decontamination as in Brown et al. 2020 (GPT-3,
  * appendix C) and duplicate-span measurement as in Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better").
  *
  * Both operators run on DISTINCT word n-grams per document (the
  * [[Dedup.shingleRows]] typed scan-speed pass) so a gram repeated inside
  * one document counts once, and both emit integer-exact ppm shares —
  * engine-portable, no float division.
  */
object Contamination {

  /** Benchmark decontamination: for every candidate document, how many of
    * its distinct word n-grams also occur anywhere in the benchmark set.
    *
    * Output: `doc_id, n_grams, n_hit, hit_ppm` — one row per candidate
    * document with at least n tokens (shorter docs have no n-grams and no
    * contamination evidence; they drop out, matching the oracle).
    *
    * 100 TB shape: the benchmark side (eval suites) is tiny relative to
    * the corpus — its distinct-gram set is broadcast, so the candidate
    * side never shuffles on gram; the only shuffle is the per-doc count
    * aggregation on `doc_id`, which AQE coalesces. A benchmark too large
    * to broadcast would fall back to a gram-keyed equi-join (same plan as
    * [[duplicateGramShare]]).
    */
  def benchmarkOverlap(candidates: DataFrame, benchmark: DataFrame,
                       textCol: String, idCol: String, n: Int): DataFrame =
    benchmarkOverlapFromShingles(
      Dedup.shingleRows(candidates, textCol, idCol, n),
      Dedup.shingleRows(benchmark, textCol, idCol, n))

  /** [[benchmarkOverlap]] over prebuilt `(doc, s)` shingle streams — the
    * session-artifact form: a pipeline shingles its corpus once and
    * slices candidate/benchmark views off the stored table. */
  def benchmarkOverlapFromShingles(candGrams: DataFrame,
                                   benchGrams: DataFrame): DataFrame = {
    val bench = benchGrams.select(col("s")).distinct()
      .withColumn("hit", lit(1))
    candGrams
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc").as("doc_id"), col("n_grams"), col("n_hit"),
        expr("(1000000 * n_hit) div n_grams").as("hit_ppm"))
  }

  /** Corpus-wide duplicated-text share: for every document, the fraction
    * (ppm) of its distinct word n-grams that occur in at least `minDf`
    * documents — the per-doc "how much of me exists elsewhere" signal
    * used to rank candidates for near-dedup.
    *
    * Output: `doc_id, n_grams, n_shared, shared_ppm`.
    *
    * 100 TB shape: one gram-keyed aggregation (map-side combined count)
    * plus one gram-keyed equi-join back — both shuffle on the gram, never
    * pairwise on documents. Boilerplate grams shared by millions of docs
    * skew the join key; AQE skew-join splits those partitions, and the
    * doc-frequency table only carries `(gram, df)` so even the hottest
    * gram is one row on the build side.
    */
  def duplicateGramShare(df: DataFrame, textCol: String, idCol: String,
                         n: Int, minDf: Int = 2): DataFrame =
    // The gram table feeds both the doc-frequency aggregate and the join
    // probe; persist so the typed shingle pass runs once (TransientCache:
    // the runner releases it after materialization).
    duplicateGramShareFromShingles(graft.ops.TransientCache.persist(
      Dedup.shingleRows(df, textCol, idCol, n)), minDf)

  /** [[duplicateGramShare]] over a prebuilt (already-persisted) `(doc, s)`
    * shingle stream — the session-artifact form. */
  def duplicateGramShareFromShingles(grams: DataFrame,
                                     minDf: Int = 2): DataFrame = {
    val gramDf = grams.groupBy(col("s")).agg(count(lit(1)).as("gram_df"))
    grams.join(gramDf, "s")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") >= minDf, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc").as("doc_id"), col("n_grams"), col("n_shared"),
        expr("(1000000 * n_shared) div n_grams").as("shared_ppm"))
  }
}
