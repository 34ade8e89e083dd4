package graft.queries

import graft.Tables
import graft.ext.{Clustering, Dedup, Multimodal, ProductQuantization, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators (BASELINE.json north star): dedup
  * family, similarity search, text analysis, multimodal plumbing — each
  * with a DuckDB oracle reproducing the exact same arithmetic (md5-based
  * hashes, integer-quantized vectors, integer thresholds; see the ext/
  * Scaladocs for the determinism rules).
  */
object ExtQueries {

  /** Shared per-session simhash signature table over `documents` —
    * computed once, consumed by q25 (clusters), q48 (Hamming pairs) and
    * q54 (connected components over the pair graph). */
  private[queries] def simhashSigs(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"simhash_sigs:$d")(
      Dedup.simhashSignatures(Tables.documents(s, d), "text", "doc_id"))

  /** Shared per-session distinct-trigram shingle table `(doc, s)` over
    * the FULL `documents` corpus — consumed by q64 (decontamination),
    * q69 (duplicated-gram share), q96 (containment) and q100 (source
    * overlap), which previously each paid their own corpus shingle scan.
    * Candidate/benchmark slices are carved off by joining the doc→source
    * map, never by re-shingling. */
  private[queries] def trigramShingles(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"trigram_shingles:$d")(
      Dedup.shingleRows(Tables.documents(s, d), "text", "doc_id", 3))

  /** Shared per-session VERIFIED MinHash-LSH pair table (q23's
    * predicate: band-collision candidates verified to >= 4/8 agreeing
    * hashes) — consumed by q23 (the pairs), q149 (prediction side of
    * the recall audit), q169 (source-grain rollup) and q183 (cascade
    * stage 2). The production shape: a pipeline persists the verified
    * pair table right next to the signature table, and every downstream
    * consumer probes the stored pairs instead of re-running the band
    * join. */
  private[queries] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"lsh_pairs:$d")(
      Dedup.lshCandidatePairs(minhashSigs(s, d), 8, 2)
        .where(col("n_agree") >= 4))

  /** Shared per-session MinHash signature table (8 hashes per doc) —
    * the artifact under q23's verified pairs and the q198 banding
    * sweep (which re-bands the SAME signatures four ways). */
  private[queries] def minhashSigs(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"minhash_sigs:$d")(
      Dedup.minhashSignaturesTyped(Tables.documents(s, d), "text", "doc_id", 8))

  /** Shared per-session distinct-BIGRAM shingle table `(doc, s)` over
    * the full corpus — the base under [[jaccardTruth]] and the q202
    * prefix-filter join (the trigram twin is [[trigramShingles]]). */
  private[queries] def bigramShingles(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"bigram_shingles:$d")(
      Dedup.shingleRows(Tables.documents(s, d), "text", "doc_id", 2))

  /** Shared per-session EXACT bigram-Jaccard >= 0.2 pair table — the
    * ground truth every dedup-quality audit scores against (q24 the
    * pairs themselves, q149 LSH recall, q194 SimHash recall, q198 the
    * banding sweep). Truth is the expensive leg of every audit; one
    * build per session is the same artifact discipline the prediction
    * legs already follow. */
  private[queries] def jaccardTruth(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"jaccard_truth:$d")(
      Dedup.ngramJaccardPairsAutoFromShingles(bigramShingles(s, d), 1, 5))

  /** Shared per-session PAIR-GRAIN artifact of the t = 4/5 AllPairs/
    * PPJoin funnel (r9 verdict item 4): [[Dedup.ppjoinCandidatePairs]]'s
    * (doc_a, doc_b, pos_ok) table over the bigram prefix index. q202 and
    * q228 previously shared only the posting index and each re-ran the
    * collision join + pair aggregate — the two most expensive joins in
    * the suite; now both read one table. Every q202/q228 output column
    * is a projection of it: prefix-candidate count = COUNT(*),
    * positional-candidate count = SUM(pos_ok), and verification reads
    * the pos_ok = 1 subset (lossless: truth ⊆ positional ⊆ prefix,
    * pinned by ExtSpec + both oracles' full unpruned joins). */
  private[queries] def ppjoinPairs(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"ppjoin_pairs:4:5:$d") {
      val pre = graft.ops.SessionCache.getOrBuild(s, s"prefix_postings:4:5:$d")(
        Dedup.prefixPostings(bigramShingles(s, d), 4, 5))
      Dedup.ppjoinCandidatePairs(pre, 4, 5)
    }

  /** The verified t = 4/5 exact-Jaccard pairs from [[ppjoinPairs]]'s
    * positional-surviving candidates — ALSO a shared session artifact:
    * after the pair-grain table was shared, the remaining duplicated
    * cost between q202 and q228 was the verification leg itself (each
    * re-aggregated the full shingle stream into per-doc gram sets just
    * to verify the SAME candidate set — ~30 s of CPU apiece at sf0.1).
    * Both queries read one verified table now; at cluster scale this is
    * the stored "true near-dup pairs" output every downstream consumer
    * (clustering, attribution, savings ledgers) reads anyway. */
  private[queries] def ppjoinVerified(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"ppjoin_verified:4:5:$d")(
      Dedup.verifyJaccardCandidates(bigramShingles(s, d),
        ppjoinPairs(s, d).where(col("pos_ok") === 1)
          .select(col("doc_a"), col("doc_b")), 4, 5))

  /** Shared per-session ExactSubstr span table over `documents`
    * (window 10, minSpan 15, cap 50) — consumed by q132 (the spans) and
    * q134 (the rewrite); a pipeline materializes the span table once,
    * then audits AND excises from the same artifact. */
  private[queries] def sharedSpansTable(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"shared_spans:$d")(
      Dedup.sharedSpans(Tables.documents(s, d), "text", "doc_id",
        window = 10, minSpan = 15, maxPostings = 50))

  /** Shared per-session winnowing fingerprint table `(doc, pos, fph)`
    * (Schleimer et al. 2003, 4-token grams winnowed over w=8 windows) —
    * the cheap screening tier of the dedup ladder, consumed by q224
    * (fingerprint-sharing pairs) and q225 (the density audit). Like the
    * span table, a persisted artifact in a real pipeline. */
  private[queries] def winnowFps(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"winnow_fps:$d")(
      Dedup.winnowingFingerprints(Tables.documents(s, d), "text", "doc_id",
        gram = 4, window = 8))

  /** Shared per-session cell-local kNN graph over `embeddings` (k=3,
    * nlist=16) — consumed by q63 (the graph itself) and q93 (PageRank
    * over it); like [[simhashSigs]], a persisted artifact in a real
    * pipeline, built once per session here. */
  private[queries] def knnEdges(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"knn_graph:$d")(
      Similarity.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding", 3, 16))

  /** Shared per-session SimHash near-dup component map (Hamming ≤ 4 over
    * [[simhashSigs]]) — consumed by q54 (the map itself) and q67
    * (keep-best resolution over it). The iterative label-propagation
    * loop runs once per session; its persisted fixpoint is the artifact
    * a pipeline would store next to the signatures. */
  private[queries] def simhashComps(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"simhash_comps:$d")(
      // Fresh EAGER localCheckpoint: the loop's own per-round checkpoints
      // are TransientCache-tracked and released by the first consumer's
      // runner — a session-cached plan whose lineage bottomed out in
      // those blocks could never recompute after a block loss. The eager
      // copy owns self-contained blocks for the session (same
      // no-recompute-on-executor-loss tradeoff localCheckpoint always
      // has, documented in Components; a real cluster would use a
      // reliable checkpoint/table here).
      Dedup.simhashComponents(simhashSigs(s, d), 4).localCheckpoint(true))

  /** Shared per-session tokenize-once artifacts over the FULL
    * `documents` table — a pipeline materializes its token stream once
    * and every text query reads the stored artifact ([[simhashSigs]]
    * contract; Bench's cold pass measures each build). Filtered
    * consumers (per-source vocabularies, train-only LM counts) derive
    * their slice by joining the doc→attribute map against the cached
    * rows instead of re-tokenizing the corpus. */
  private[queries] def docProfile(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"tok_profile:$d")(
      // Fanned out before the per-doc profile loop (guide §2.5: the
      // single-row-group scan otherwise runs the whole tokenize pass in
      // one task). Done here, not inside withTokenProfile — the inline
      // map-side consumers (sampling's zero-shuffle path) keep their
      // shape.
      TextAnalysis.withTokenProfile(
        graft.ops.Fanout.byKey(Tables.documents(s, d), col("doc_id")), "text"))

  /** Per-(label, dim) centroid registers over `(label, embedding)` rows:
    * the Σ of the dim's component quantized floor(x·1000) and the count
    * of vectors that have the dim — q188's centroid operands. Integer
    * sums commute, so the same function run on an embedding stream in
    * Update mode keeps the registers at ingest (labels × dims
    * state-store rows), and the centroids and drift distances stay
    * query-time math over them. */
  private[graft] def centroidRegisters(vecs: DataFrame): DataFrame =
    vecs.select(col("label"), posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))

  /** Shared per-session POSITIONAL postings `(doc, pos, token)` — the
    * phrase/proximity index under q146/q156 and the relevance legs of
    * the retrieval audits (q187 MRR, q206 nDCG). One corpus tokenize
    * pass instead of one per consumer; in production this is the
    * positional half of the stored inverted index (term-bucketed on
    * disk, the q49 GIN layout). */
  private[queries] def posPostings(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"pos_postings:$d")(
      TextAnalysis.tokenPosRows(Tables.documents(s, d), "text", "doc_id"))

  /** Shared per-session BM25 top-10 ranking for a fixed term set — the
    * ranked leg under q55 (the ranking itself), q187 (MRR) and q206
    * (nDCG), which audit the SAME three queries: the ranking a real
    * system would serve is scored once, and every metric reads the same
    * rows (an audit that re-ranks privately can drift from the surface
    * it claims to measure). */
  private[queries] def bm25Top10(s: SparkSession, d: String,
                                 terms: Seq[String]): DataFrame =
    graft.ops.SessionCache.getOrBuild(s,
      s"bm25top10:${terms.mkString("+")}:$d")(
      graft.ext.Ranking.bm25TopKFromIndex(ftsPostingsTf(s, d),
        ftsDocLengths(s, d), terms, 10))

  /** Doc → source map for attaching provenance to token streams
    * (broadcast-sized: one narrow row per document). */
  private[queries] def docSourceMap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc"), col("source"))

  /** Shared per-(source, token) occurrence counts — the aggregate the
    * per-source consumers (vocab set ops q113, KMV sketches q115,
    * train-only LM counts q105, per-source tf q72/q121) slice with a
    * filter. Only AGGREGATES are session-shared, never the raw token
    * stream: a cached 10 M-row stream costs more to re-scan per query
    * than the scan-speed typed tokenize it replaces (measured at sf0.1),
    * while these vocabulary-sized tables amortize to near-zero. */
  private[queries] def docSourceTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"src_tok_counts:$d")(
      TextAnalysis.tokenRows(Tables.documents(s, d), "text", "doc_id")
        .join(docSourceMap(s, d), "doc")
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt")))

  /** Shared corpus unigram counts (token, cnt) — a rollup of
    * [[docSourceTokenCounts]]. */
  private[queries] def docTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"tok_counts:$d")(
      docSourceTokenCounts(s, d)
        .groupBy(col("token")).agg(sum(col("cnt")).as("cnt")))

  /** Shared per-token document frequency (token, doc_freq) — the idf
    * side of tf·idf scoring (q65, q72). */
  private[queries] def docTokenDocFreq(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"tok_doc_freq:$d")(
      TextAnalysis.tokenRows(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("doc_freq")))

  /** Shared per-(source, adjacent-pair) counts — see
    * [[docSourceTokenCounts]]; feeds q82's merge table, q97's pair
    * totals and q105's train-slice LM counts. */
  private[queries] def docSourcePairCounts(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"src_pair_counts:$d")(
      TextAnalysis.tokenPairRows(Tables.documents(s, d), "text", "doc_id")
        .join(docSourceMap(s, d), "doc")
        .groupBy(col("source"), col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n")))

  /** Session-materialized surface-term FTS artifacts — the inverted
    * index the reference stores as a Postgres GIN index
    * (`database/migrations/001_initial_schema.sql:87-88`): build once
    * per session, every search/rank query probes the stored index. */
  private[queries] def ftsInverted(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"fts_inverted:$d")(
      TextAnalysis.invertedPostings(Tables.documents(s, d), "text", "doc_id"))

  /** BM25 half of the surface index: postings with term frequency. */
  private[queries] def ftsPostingsTf(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"fts_postings_tf:$d")(
      graft.ext.Ranking.postingsWithTf(Tables.documents(s, d), "text", "doc_id"))

  /** Doc-length side of the surface index (BM25 corpus stats). */
  private[queries] def ftsDocLengths(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"fts_dl:$d")(
      graft.ext.Ranking.docLengths(Tables.documents(s, d), "text", "doc_id"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on normalized content (one shuffle on a
    // 32-byte key at any scale).
    "q22_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy("content_hash")),

    // MinHash(8) + LSH banding (4 bands × 2): candidates only for docs
    // colliding in a band; verified against the full signature.
    "q23_dedup_minhash_lsh" -> ((s, d) =>
      // Both the signature table (8 ints per doc) and the verified pair
      // table are session artifacts — a pipeline persists its MinHash
      // signatures next to the corpus and the verified pairs next to the
      // signatures; this query IS the pair artifact, ordered.
      lshVerifiedPairs(s, d)
        .orderBy("doc_a", "doc_b")),

    // Exact bigram-Jaccard >= 0.2; strategy auto-picked on gram
    // dictionary size (bucketed join for open vocab, bitset-popcount for
    // dense small-vocab corpora like this fixture).
    "q24_dedup_ngram_jaccard" -> ((s, d) =>
      jaccardTruth(s, d).orderBy("doc_a", "doc_b")),

    // LSH quality audit — the dedup twin of q109's ANN recall: the
    // MinHash-LSH candidate set (q23's predicate) scored against the
    // EXACT n-gram-Jaccard ground truth (q24's predicate) as integer
    // confusion counts + ppm recall/precision. This is the measurement
    // that justifies (or indicts) the banding parameters before anyone
    // trusts them at corpus scale.
    "q149_lsh_dedup_recall" -> ((s, d) => {
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val pred = lshVerifiedPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
      truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
        .agg(sum(col("t")).as("n_truth"), sum(col("p")).as("n_pred"),
          sum(when(col("t").isNotNull && col("p").isNotNull, lit(1L))
            .otherwise(lit(0L))).as("n_tp"))
        .select(col("n_truth"), col("n_pred"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"),
          expr("(1000000 * n_tp) div n_pred").as("precision_ppm"))
    }),

    // ASYMMETRIC containment over the LSH candidate set — the quote /
    // subset-inclusion signal Jaccard resemblance structurally misses
    // (Broder 1997 distinguishes the two: a 50-gram doc fully inside a
    // 1000-gram doc has J ~ 0.05 but containment 1.0). Per verified
    // candidate pair: the MinHash containment ESTIMATE derived from the
    // signature agreement (J^ = n_agree/8; I^ = J^(|A|+|B|)/(1+J^), all
    // integer ppm arithmetic, clamped at 1e6) against the EXACT
    // containment of the smaller shingle set in the larger — est and
    // truth side by side, the q149/q263 in-pass-audit discipline. 100 TB
    // shape: pairs are the capped LSH band-join artifact (never
    // all-pairs), per-doc set sizes are one aggregate of the shingle
    // artifact, and the exact-intersection leg is bounded to candidate
    // pairs (each pair costs |A| posting probes, not corpus work).
    "q277_minhash_containment" -> ((s, d) => {
      val sh = bigramShingles(s, d)
      val cnt = sh.groupBy(col("doc")).agg(count(lit(1)).as("n"))
      val pairs = lshVerifiedPairs(s, d)
      val inter = pairs.select(col("doc_a"), col("doc_b"))
        .join(sh.select(col("doc").as("doc_a"), col("s")), Seq("doc_a"))
        .join(sh.select(col("doc").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
      pairs
        .join(cnt.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
        .join(cnt.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("n_agree").cast("int").as("n_agree"),
          col("n_a"), col("n_b"),
          least(lit(1000000L),
            expr("""(1000000 * CAST(n_agree AS BIGINT) * (n_a + n_b))
                    div ((8 + CAST(n_agree AS BIGINT)) * least(n_a, n_b))"""))
            .as("c_min_est_ppm"),
          expr("(1000000 * coalesce(i, CAST(0 AS BIGINT))) div least(n_a, n_b)")
            .as("c_min_exact_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // First-occurrence gram novelty: per doc, the fraction of its
    // distinct trigrams NOT seen in any lower-id document — the
    // streaming-dedup / curriculum signal ("how much of this doc is
    // new relative to everything ingested before it"), the asymmetric
    // counterpart of q69's symmetric duplicated-gram share. One window
    // min over the shared trigram artifact (shuffle on the gram key),
    // then a per-doc aggregate; nothing is pairwise.
    "q184_gram_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      trigramShingles(s, d)
        .withColumn("first_doc",
          min(col("doc")).over(Window.partitionBy(col("s"))))
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc"), lit(1L)).otherwise(lit(0L)))
            .as("n_novel"))
        .withColumn("novelty_ppm", expr("(1000000 * n_novel) div n_grams"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary growth curve (Heaps-law audit): new distinct terms per
    // doc-id decile and the cumulative vocabulary — the saturation
    // measurement behind "is more data still adding vocabulary".
    // min(doc_id) per token (one shuffle on the token key), decile by
    // integer division against the max id, 10-row cumulative window.
    "q185_vocab_growth" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val first = TextAnalysis.tokenRows(Tables.documents(s, d), "text", "doc_id")
        .groupBy(col("token")).agg(min(col("doc")).as("first_doc"))
      val mx = Tables.documents(s, d).agg(max(col("doc_id")).as("mx"))
      first.crossJoin(mx)
        .withColumn("bucket", expr("(10 * first_doc) div (mx + 1)"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_terms"))
        // <= 10 rows reach this window; the single partition is by design
        .withColumn("cum_terms",
          sum(col("n_new_terms")).over(Window.orderBy(col("bucket"))))
        .orderBy(col("bucket"))
    }),

    // Source exclusivity: per source, how many of its distinct trigrams
    // exist NOWHERE else — the marginal-utility measure of mixture
    // design ("what does this source uniquely contribute"), the
    // complement of q100's pairwise shared-gram overlap. One
    // (source, gram) distinct off the shared trigram artifact, one
    // per-gram owner count, one per-source rollup — all gram-key
    // partitioned, nothing pairwise.
    "q186_source_exclusivity" -> ((s, d) => {
      val ss = graft.ops.TransientCache.persist(
        trigramShingles(s, d)
          .join(docSourceMap(s, d), "doc")
          .select(col("source"), col("s")).distinct())
      val gs = ss.groupBy(col("s")).agg(count(lit(1)).as("n_src"))
      ss.join(gs, "s")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_src") === 1, lit(1L)).otherwise(lit(0L)))
            .as("n_exclusive"))
        .withColumn("exclusive_ppm", expr("(1000000 * n_exclusive) div n_grams"))
        .orderBy(col("source"))
    }),

    // 64-bit SimHash near-dup clusters (single groupBy on the signature).
    // The signature table is built ONCE per session (SessionCache) and
    // shared with q48 — the production pipeline shape, where signatures
    // are a persisted artifact consumed by every dedup pass.
    "q25_dedup_simhash" -> ((s, d) =>
      Dedup.simhashClustersFromSigs(simhashSigs(s, d))
        .orderBy("simhash")),

    // SimHash near-dup PAIRS within Hamming distance 4 of 64 (pigeonhole
    // banding -> candidate equi-join -> exact bit-distance verify), over
    // the same shared signature table as q25.
    "q48_simhash_hamming" -> ((s, d) =>
      Dedup.simhashHammingPairsFromSigs(simhashSigs(s, d), 4)
        .orderBy("doc_a", "doc_b")),

    // Duplicate source attribution: are near-dups copies WITHIN one
    // source (re-uploads, per-source boilerplate) or copies ACROSS
    // sources (syndication, scraping overlap) — and are they verbatim
    // (identical normalized content) or genuinely near? The 2×2 split
    // drives dedup strategy at corpus scale: intra-source verbatim dups
    // dedup inside each source's own partition with a plain hash; the
    // cross-source / near cells are the reason the signature shuffle
    // must be global and banded. Classifies q23's verified pair table
    // (same session artifact) by joining each side's (source,
    // content-hash) — pair-table-sized work, never a new expansion.
    "q196_dup_source_attribution" -> ((s, d) => {
      val meta = Tables.documents(s, d).select(
        col("doc_id").cast("long").as("doc"), col("source"),
        md5(TextAnalysis.normalize(col("text")).cast("binary")).as("ch"))
      // No broadcast hint on the per-doc side: the doc→(source, hash)
      // map is corpus-sized, so the RIGHT broadcast at any scale is the
      // bounded pair table — left to AQE, which picks exactly that here.
      lshVerifiedPairs(s, d)
        .join(meta.select(col("doc").as("doc_a"),
          col("source").as("sa"), col("ch").as("ha")), "doc_a")
        .join(meta.select(col("doc").as("doc_b"),
          col("source").as("sb"), col("ch").as("hb")), "doc_b")
        .select(
          when(col("sa") === col("sb"), "intra_source")
            .otherwise("cross_source").as("span"),
          when(col("ha") === col("hb"), "verbatim")
            .otherwise("near").as("kind"))
        .groupBy(col("span"), col("kind"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("span"), col("kind"))
    }),

    // Language-ID confusion matrix: the q40 detector audited against
    // the fixture's own language labels — per (label, detected) doc
    // counts, the measurement that justifies trusting lang-routing
    // decisions (stratified sampling, per-lang packing) downstream of
    // the detector. One rollup over the shared profile artifact.
    "q197_langid_confusion" -> ((s, d) =>
      docProfile(s, d)
        .groupBy(col("lang"), col("lang_detected"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_detected"))),

    // LSH banding-parameter sweep: the OPERATING CURVE behind q149's
    // single-config audit. Each (band_size r, n_bands 8/r) partition of
    // the SAME 8-hash signature artifact generates its candidate set,
    // scored against the exact-Jaccard truth artifact as integer
    // confusion counts + ppm recall/precision — the table a pipeline
    // reads before committing a config corpus-wide (banding theory's
    // 1−(1−J^r)^(8/r) S-curve, measured on the actual corpus instead
    // of assumed). Candidate sets nest — agreement on a 2r-band implies
    // agreement on both aligned r-sub-bands — so n_cand and recall are
    // monotone in r (spec-pinned). At corpus scale the sweep is an
    // audit over a fixed-size sample; only the chosen config pays the
    // corpus-wide band shuffle.
    "q198_lsh_band_sweep" -> ((s, d) => {
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val sweep = Seq(1, 2, 4, 8).map { r =>
        // Explicitly UNCAPPED: the sweep audits the raw banding curve
        // (capping would break the cand(r) nesting the spec pins); the
        // hot-band cap itself is the swept parameter in q257.
        Dedup.lshCandidatePairs(minhashSigs(s, d), 8, r, Int.MaxValue)
          .select(col("doc_a"), col("doc_b"))
          .join(truth, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_cand"),
            coalesce(sum(col("t")), lit(0L)).as("n_tp"))
          .select(lit(r).as("band_size"), lit(8 / r).as("n_bands"),
            col("n_cand"), col("n_tp"))
      }.reduce(_ union _)
      sweep
        .crossJoin(jaccardTruth(s, d).agg(count(lit(1)).as("n_truth")))
        .select(col("band_size"), col("n_bands"), col("n_cand"),
          col("n_truth"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"),
          expr("(1000000 * n_tp) div nullif(n_cand, 0)").as("precision_ppm"))
        .orderBy(col("band_size"))
    }),

    // b-bit minhash audit (Li & König, "b-Bit Minwise Hashing", 2010):
    // store ONE bit per minhash (32× smaller signatures at scale) and
    // estimate J from bit agreement with the b=1 bias correction
    // Ĵ = 2A − 1 (clamped at 0). Both estimators read the SAME 8-hash
    // session signature table (bit = parity of the hash's last hex
    // digit) and are scored against the exact bigram Jaccard over the
    // truth pairs: per estimator, pair count, mean absolute error
    // (milli; non-negative, so integer DIV is engine-safe) and the
    // SIGNED error sum (no division — Spark DIV truncates while
    // DuckDB // floors on negatives, so signed ratios never divide).
    // The table answers the storage question directly: what accuracy
    // do the dropped 31 bits per hash actually cost on this corpus.
    "q260_bbit_minhash" -> ((s, d) => {
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"),
          expr("CAST((1000 * n_inter) DIV (n_a + n_b - n_inter) AS BIGINT)")
            .as("jm"))
      val sigs = minhashSigs(s, d)
      val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
      def bit(side: String, p: Int): Column =
        when(substring(col(s"$side.h$p"), 8, 1).isin(oddHex: _*), 1)
          .otherwise(0)
      val agreeF = (0 until 8).map(p =>
        when(col(s"sa.h$p") === col(s"sb.h$p"), 1).otherwise(0)).reduce(_ + _)
      val agreeB = (0 until 8).map(p =>
        when(bit("sa", p) === bit("sb", p), 1).otherwise(0)).reduce(_ + _)
      val base = graft.ops.TransientCache.persist(
        truth.join(sigs.as("sa"), col("doc_a") === col("sa.doc"))
          .join(sigs.as("sb"), col("doc_b") === col("sb.doc"))
          .select(col("jm"),
            (agreeF * 125).cast("long").as("e_full"),
            greatest(agreeB * 250 - 1000, lit(0)).cast("long").as("e_bit")))
      def leg(nm: String, c: String) = base.agg(
          count(lit(1)).as("n_pairs"),
          sum(abs(col(c) - col("jm"))).as("sae_milli"),
          sum(col(c) - col("jm")).as("err_sum_milli"))
        .select(lit(nm).as("estimator"), col("n_pairs"),
          expr("sae_milli div n_pairs").as("mae_milli"),
          col("sae_milli"), col("err_sum_milli"))
      leg("bbit1x8", "e_bit").unionByName(leg("minhash8", "e_full"))
        .orderBy(col("estimator"))
    }),

    // Top-k rank churn between corpus halves — the dashboard-stability
    // question ("did the top-20 list actually move?") answered with
    // integer metrics instead of eyeballing: token document-frequency
    // ranks in the even-doc half vs the odd-doc half (value-based
    // split, no sampling), per token in either top-20: both ranks
    // (0 = absent — an entry/drop marker) and the Spearman-footrule
    // displacement |rank_a − rank_b| for tokens in both (the
    // non-negative rank-correlation companion; Kendall's τ needs a
    // sign and signed integer division diverges between engines).
    // One distinct-(doc,token) pass over the session positional
    // postings, both halves counted in the same aggregate; top-20s
    // are TakeOrdered + a 20-row ranking window — vocabulary never
    // sorts globally.
    "q265_rank_churn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dfs = graft.ops.TransientCache.persist(
        posPostings(s, d).select(col("doc"), col("token")).distinct()
          .groupBy(col("token"))
          .agg(sum(when(col("doc") % 2 === 0, 1L).otherwise(0L)).as("df_a"),
            sum(when(col("doc") % 2 === 1, 1L).otherwise(0L)).as("df_b")))
      def top(dfc: String, rk: String) =
        dfs.orderBy(col(dfc).desc, col("token")).limit(20)
          .withColumn(rk, row_number()
            .over(Window.orderBy(col(dfc).desc, col("token"))).cast("long"))
          .select(col("token"), col(rk))
      top("df_a", "rank_a").join(top("df_b", "rank_b"), Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("rank_a"), lit(0L)).as("rank_a"),
          coalesce(col("rank_b"), lit(0L)).as("rank_b"))
        .withColumn("displacement",
          when(col("rank_a") > 0 && col("rank_b") > 0,
            abs(col("rank_a") - col("rank_b"))).otherwise(lit(0L)))
        .orderBy(col("token"))
    }),

    // Hot-band cap audit — the measurement behind the maxBucket=50
    // default lshCandidatePairs now applies (r7 verdict item 6): sweep
    // the owner cap and score each capped candidate set against the
    // exact-Jaccard truth. ONE uncapped band join is aggregated to
    // pair grain with the MIN shared-bucket size (a pair survives cap
    // c iff min_nown <= c — exactly the capped join's predicate,
    // ExtSpec-pinned), so the sweep costs one join + a scan, not one
    // join per cap; the pair aggregate is the q228 discipline (never
    // persist collision grain). cap = 0 encodes the uncapped baseline.
    // At this fixture the production cap (50) drops nothing — the
    // small caps price what capping WOULD cost in recall, the curve an
    // operator reads before tightening the cap on a boilerplate-heavy
    // corpus.
    "q257_lsh_cap_audit" -> ((s, d) => {
      val bands = Dedup.bandRows(minhashSigs(s, d), 8, 2)
      val bcnt = graft.ops.TransientCache.persist(
        bands.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("nown")))
      val bw = bands.join(bcnt, Seq("band", "key"))
      val agree = (0 until 8)
        .map(p => when(col(s"sa.h$p") === col(s"sb.h$p"), 1).otherwise(0))
        .reduce(_ + _)
      val sigs = minhashSigs(s, d)
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val pairs = graft.ops.TransientCache.persist(
        bw.as("a").join(bw.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc") < col("b.doc"))
          .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          .agg(min(col("a.nown")).as("min_nown"))
          .join(sigs.as("sa"), col("doc_a") === col("sa.doc"))
          .join(sigs.as("sb"), col("doc_b") === col("sb.doc"))
          .select(col("doc_a"), col("doc_b"), col("min_nown"),
            when(agree >= 4, 1L).otherwise(0L).as("v"))
          .join(truth, Seq("doc_a", "doc_b"), "left"))
      val caps = Seq(0L, 2L, 5L, 10L, 25L, 50L)
      val capDf = s.range(1).select(explode(array(caps.map(lit): _*)).as("cap"))
      val per = capDf.join(pairs,
          col("cap") === 0 || col("min_nown") <= col("cap"), "left")
        .groupBy(col("cap"))
        .agg(count(col("doc_a")).as("n_cand"),
          coalesce(sum(col("v")), lit(0L)).as("n_pred"),
          coalesce(sum(col("v") * col("t")), lit(0L)).as("n_tp"))
      val dropped = capDf.join(bcnt,
          col("cap") > 0 && col("nown") > col("cap"), "left")
        .groupBy(col("cap")).agg(count(col("nown")).as("n_buckets_dropped"))
      val base = pairs.agg(count(lit(1)).as("u_cand"))
      val nt = jaccardTruth(s, d).agg(count(lit(1)).as("n_truth"))
      per.join(dropped, Seq("cap"))
        .crossJoin(base).crossJoin(nt)
        .select(col("cap"), col("n_buckets_dropped"), col("n_cand"),
          col("n_pred"), col("n_truth"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"),
          expr("(1000000 * n_cand) div u_cand").as("cand_kept_ppm"))
        .orderBy(col("cap"))
    }),

    // The LSH S-curve, measured against theory — the textbook collision
    // probability P(candidate | J) = 1 − (1 − J^r)^b for the PRODUCTION
    // banding (r=2, b=4), evaluated per 50-milli exact-Jaccard bin and
    // set next to the measured candidate rate from the same signature
    // table q23 ships. The theoretical curve is integer-quantized at
    // the bin midpoint (jr = J², q = 1 − jr, P = 1 − q⁴, all in
    // milli/ppm fixed point — no pow, no libm), so the oracle
    // reproduces it bit-for-bit; the measured-vs-theory gap is the
    // finite-signature (8-hash) deviation the audit exists to expose.
    // One join of two session artifacts + a bin groupBy.
    "q222_lsh_s_curve" -> ((s, d) => {
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"),
          expr("CAST((1000 * n_inter) DIV (n_a + n_b - n_inter) AS BIGINT)")
            .as("jm"))
      val cand = Dedup.lshCandidatePairs(minhashSigs(s, d), 8, 2)
        .select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("c", lit(1L))
      truth.withColumn("bin", expr("jm DIV 50"))
        .join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("c")), lit(0L)).as("n_collided"))
        .withColumn("q", lit(1000L) -
          expr("((bin * 50 + 25) * (bin * 50 + 25)) DIV 1000"))
        .select((col("bin") * 50).as("j_bin_milli"), col("n_pairs"),
          col("n_collided"),
          expr("CAST((1000000 * n_collided) DIV n_pairs AS BIGINT)")
            .as("measured_ppm"),
          expr("CAST(1000000 - (q * q * q * q) DIV 1000000 AS BIGINT)")
            .as("theo_ppm"))
        .orderBy(col("j_bin_milli"))
    }),

    // Deletion propagation (right-to-be-forgotten maintenance): purge a
    // tombstone set (here: every src2 doc) from the first-occurrence
    // claim index (q184's artifact) INCREMENTALLY and report the repair
    // bill. Deletions only ever invalidate claims HELD BY a tombstoned
    // doc — min over a subset that still contains its old min is
    // unchanged — so the repair semi-joins the claim table against the
    // tombstones, re-elects min(surviving doc) over ONLY the affected
    // grams' postings, and leaves every other claim untouched. At
    // corpus scale this is the only viable shape: a daily deletion
    // batch is tiny vs the corpus, so the artifact must be repaired in
    // work proportional to the AFFECTED slice, never recomputed. The
    // oracle recomputes the index from the filtered corpus from
    // scratch — the compare IS the repair ≡ recompute identity (the
    // q106/q126 merge≡recompute discipline applied to deletion).
    "q201_deletion_repair" -> ((s, d) => {
      val sh = trigramShingles(s, d)
      val tomb = Tables.documents(s, d).where(col("source") === "src2")
        .select(col("doc_id").cast("long").as("doc"))
      val before = sh.groupBy(col("s")).agg(min(col("doc")).as("first_doc"))
      val affected = before
        .join(tomb.select(col("doc").as("first_doc")), "first_doc")
        .select(col("s"))
      val reelect = sh.join(affected, "s")
        .join(tomb, Seq("doc"), "left_anti")
        .groupBy(col("s")).agg(min(col("doc")).as("new_first"))
      before
        .join(tomb.select(col("doc").as("first_doc"), lit(1).as("tombed")),
          Seq("first_doc"), "left")
        .join(reelect, Seq("s"), "left")
        .agg(
          count(lit(1)).as("n_before"),
          sum(when(col("tombed").isNull, 1L)
            .otherwise(when(col("new_first").isNotNull, 1L).otherwise(0L)))
            .as("n_after"),
          sum(when(col("tombed").isNotNull && col("new_first").isNull, 1L)
            .otherwise(0L)).as("n_retired"),
          sum(when(col("new_first").isNotNull, 1L).otherwise(0L))
            .as("n_reelected"),
          sum(when(col("tombed").isNull, 1L).otherwise(0L)).as("n_unchanged"))
    }),

    // Jackknife leave-one-source-out duplication influence (Quenouille/
    // Tukey delete-a-group jackknife, applied to mixture design): for
    // each source, the corpus duplicate-posting share recomputed AS IF
    // that source were dropped — the causal question behind q196's
    // attribution ("which source, if removed, would actually deduplicate
    // the corpus?"). NOT n re-runs: with per-(gram, source) posting
    // counts, the without-s residual is r = df − cnt_s per gram, so all
    // n leave-one-out corpora fold into ONE aggregate over the
    // gram×source residual table (sources × distinct grams rows — n_src
    // linear, never corpus quadratic). A gram's surviving postings count
    // as duplicated iff r ≥ 2 — this catches the flip q196 cannot see:
    // a gram duplicated ONLY because source s held the second copy
    // stops being duplicated without s. Integer-exact ppm.
    // Vocabulary-growth / Good-Turing curve: at ten ingestion-order
    // checkpoints (value-based doc-id cutoffs — NO global sort; at
    // corpus scale a row_number over all docs is a single-partition
    // window, so checkpoints are arithmetic on min/max id), the
    // cumulative distinct-trigram count, the number of singleton grams,
    // and the Good-Turing missing-mass estimate P(unseen) ~ n1/N in ppm
    // — the "is the next TB of data worth ingesting" planning operator
    // (Heaps-law growth + Good 1953 missing mass). The per-checkpoint
    // prefix stats need NO per-prefix scans: a gram is counted at
    // checkpoint c iff its FIRST occurrence c1 <= c, and is a singleton
    // there iff c1 <= c < c2 (second occurrence) — so one window pass
    // over the shared session trigram postings (rn <= 2 per gram)
    // reduces the whole curve to a gram-table-sized (c1, c2) relation
    // crossed with a 10-row broadcast. Posting mass N_c is one
    // conditional fold of the postings against the same broadcast.
    "q207_vocab_growth" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sh = trigramShingles(s, d)
      val ids = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val mm = ids.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      val boundsI = broadcast(mm.crossJoin(
          s.range(1, 11).select(col("id").cast("int").as("decile")))
        .select(col("decile"),
          (col("mn") - 1 +
            expr("((mx - mn + 1) * decile) DIV 10")).as("cutoff")))
      val c12 = sh.withColumn("rn",
          row_number().over(Window.partitionBy(col("s")).orderBy(col("doc"))))
        .where(col("rn") <= 2)
        .groupBy(col("s"))
        .agg(min(when(col("rn") === 1, col("doc"))).as("c1"),
          min(when(col("rn") === 2, col("doc"))).as("c2"))
      val gramStats = c12.crossJoin(boundsI)
        .groupBy(col("decile"), col("cutoff"))
        .agg(sum(when(col("c1") <= col("cutoff"), 1L).otherwise(0L))
            .as("n_grams_cum"),
          sum(when(col("c1") <= col("cutoff") &&
              (col("c2").isNull || col("c2") > col("cutoff")), 1L)
            .otherwise(0L)).as("n_singletons"))
      val postStats = sh.crossJoin(boundsI)
        .where(col("doc") <= col("cutoff"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_postings"))
      val docStats = ids.crossJoin(boundsI)
        .where(col("doc_id") <= col("cutoff"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
      gramStats.join(postStats, Seq("decile"), "left")
        .join(docStats, Seq("decile"), "left")
        .select(col("decile"), col("cutoff"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          col("n_grams_cum"),
          (col("n_grams_cum") -
            coalesce(lag(col("n_grams_cum"), 1).over(
              Window.orderBy(col("decile"))), lit(0L))).as("n_new_grams"),
          col("n_singletons"),
          coalesce(col("n_postings"), lit(0L)).as("n_postings"),
          when(coalesce(col("n_postings"), lit(0L)) > 0,
            expr("CAST((1000000 * n_singletons) DIV n_postings AS BIGINT)"))
            .otherwise(lit(0L)).as("missing_mass_ppm"))
        .orderBy(col("decile"))
    }),

    // Soft-dedup loss weights — the down-weighting alternative to hard
    // removal (when dedup is too aggressive, train on everything but
    // give each near-dup cluster ONE document's worth of loss mass):
    // weight_ppm = 1e6 DIV cluster_size, singletons keep 1e6, so every
    // cluster's total weight is ~1e6 up to integer rounding. One left
    // join of the doc spine against the session component artifact —
    // the weights column a loader multiplies into the per-example loss.
    "q217_soft_dedup_weights" -> ((s, d) => {
      val comps = simhashComps(s, d)
      val sz = comps.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      Tables.documents(s, d).select(col("doc_id").cast("long").as("doc"))
        .join(comps, Seq("doc"), "left")
        .join(sz, Seq("comp"), "left")
        .select(col("doc").as("doc_id"),
          coalesce(col("comp"), col("doc")).as("component"),
          coalesce(col("sz"), lit(1L)).as("cluster_size"),
          expr("CAST(1000000 DIV coalesce(sz, 1) AS BIGINT)").as("weight_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Effective sample size under the q217 soft-dedup weights (Kish
    // 1965): ESS = (Σw)²/Σw² per source — how many INDEPENDENT
    // documents a source really contributes once its duplication is
    // priced in. ess_milli is integer-exact (Σw and Σw² are BIGINT sums
    // of ppm weights; the (Σw)² numerator runs in DECIMAL(38,0) with an
    // exact integral quotient, enveloped in-plan before it can wrap);
    // dedup_tax_ppm = 1e6 − 1e6·ESS/n is the share of the
    // source's row count that duplication hollowed out. One aggregate
    // over the weight table — the mixture planner's (q58) missing
    // input: budget by ESS, not raw doc counts.
    "q219_source_ess" -> ((s, d) => {
      val comps = simhashComps(s, d)
      val sz = comps.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      val w = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc"), col("source"))
        .join(comps, Seq("doc"), "left")
        .join(sz, Seq("comp"), "left")
        .select(col("source"),
          expr("CAST(1000000 DIV coalesce(sz, 1) AS BIGINT)").as("w"))
      val st = w.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sw2"))
        // (Σw)² outgrows int64 at ~3000 ppm-weighted docs per source —
        // the r10 10× scaling run tripped the old int64 guard exactly
        // as designed. The ESS numerator now runs in DECIMAL(38,0)
        // (exact integral quotient via div, the identical value HUGEINT
        // gives the oracle), good to Σw < 3e17 ≈ 3e11 docs per source;
        // the envelope now guards the decimal width.
        .withColumn("n_docs", col("n_docs") + coalesce(
          assert_true(col("sw").cast("double") * col("sw").cast("double")
            * lit(1001.0) < lit(9.0e37),
            lit("q219 (sum w)^2 would overflow decimal38: rescale weights"))
            .cast("long"), lit(0L)))
      st.select(col("source"), col("n_docs"), col("sw"), col("sw2"),
          expr("CAST((CAST(1000 AS DECIMAL(38,0)) * CAST(sw AS DECIMAL(20,0)) * " +
            "CAST(sw AS DECIMAL(20,0))) DIV CAST(sw2 AS DECIMAL(20,0)) AS BIGINT)")
            .as("ess_milli"))
        .withColumn("dedup_tax_ppm",
          expr("CAST(1000000 - (1000 * ess_milli) DIV n_docs AS BIGINT)"))
        .orderBy(col("source"))
    }),

    // Positional quality drift WITHIN documents — do tails degrade?
    // (Boilerplate footers, truncation junk and spam padding accumulate
    // at document ends; a pipeline that samples fixed-length prefixes
    // needs to know.) Every token lands in a relative-position decile
    // ((pos−1)·10 DIV n_tokens — integer, per doc), and each decile
    // reports corpus-level stopword share and type-token ratio in ppm.
    // Rides the session positional postings + token profile; one
    // groupBy, stoplist membership as a literal isin — scan-speed at
    // any scale.
    "q218_positional_drift" -> ((s, d) => {
      val stops = TextAnalysis.langStopwords.flatMap(_._2)
      val nTok = docProfile(s, d)
        .select(col("doc_id").cast("long").as("doc"),
          col("n_tokens").cast("long").as("ntok"))
        .where(col("ntok") > 0)
      posPostings(s, d).join(nTok, "doc")
        .select(expr("CAST(((pos - 1) * 10) DIV ntok AS BIGINT)").as("decile"),
          col("token"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("token").isin(stops: _*), 1L).otherwise(0L))
            .as("n_stop"),
          countDistinct(col("token")).as("n_distinct"))
        .select(col("decile"), col("n_tokens"), col("n_stop"),
          col("n_distinct"),
          expr("CAST((1000000 * n_stop) DIV n_tokens AS BIGINT)")
            .as("stop_ppm"),
          expr("CAST((1000000 * n_distinct) DIV n_tokens AS BIGINT)")
            .as("ttr_ppm"))
        .orderBy(col("decile"))
    }),

    // Pairwise total-variation distance between per-source token
    // distributions — the mixture-redundancy matrix: TV(a,b) =
    // ½ Σ_t |p_a(t) − p_b(t)| is the INTEGER-EXACT divergence (unlike
    // KL/JS, whose logs would reintroduce libm parity): cross-multiply
    // to |c_a·N_b − c_b·N_a| and the whole matrix folds from the
    // session (source, token) count artifact. Tokens private to one
    // source need no outer join — their contribution is
    // (N_a − Σ_shared c_a)·N_b in closed form. Overflow enveloped
    // in-plan (TV_num ≤ 2·N_a·N_b, so the ppm product is bounded by
    // 2e6·N_a·N_b; the assert trips before int64 wraps). Sources are
    // enumerable, the join is token-partitioned with map-side partials:
    // vocabulary-sized work at any corpus scale.
    "q216_source_tv_matrix" -> ((s, d) => {
      val c = docSourceTokenCounts(s, d)
      val n = graft.ops.TransientCache.persist(
        c.groupBy(col("source")).agg(sum(col("cnt")).as("nt")))
      val j = c.as("a").join(c.as("b"),
          col("a.token") === col("b.token") &&
            col("a.source") < col("b.source"))
        .join(broadcast(n.select(col("source").as("sa_n"), col("nt").as("na"))),
          col("a.source") === col("sa_n"))
        .join(broadcast(n.select(col("source").as("sb_n"), col("nt").as("nb"))),
          col("b.source") === col("sb_n"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(sum(abs(col("a.cnt") * col("nb") - col("b.cnt") * col("na")))
            .as("s_both"),
          sum(col("a.cnt")).as("ca"), sum(col("b.cnt")).as("cb"))
      val pairs = n.as("x").join(n.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          col("x.nt").as("n_tok_a"), col("y.nt").as("n_tok_b"))
      pairs.join(j, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          col("n_tok_a"), col("n_tok_b"),
          (coalesce(col("s_both"), lit(0L)) +
            (col("n_tok_a") - coalesce(col("ca"), lit(0L))) * col("n_tok_b") +
            (col("n_tok_b") - coalesce(col("cb"), lit(0L))) * col("n_tok_a"))
            .as("tv_num"))
        .withColumn("n_tok_a", col("n_tok_a") + coalesce(
          assert_true(col("n_tok_a").cast("double") * col("n_tok_b").cast("double")
            * lit(2.0e6) < lit(9.2e18),
            lit("q216 TV ppm would overflow int64: scale counts down first"))
            .cast("long"), lit(0L)))
        .withColumn("tv_ppm",
          expr("CAST((1000000 * tv_num) DIV (2 * n_tok_a * n_tok_b) AS BIGINT)"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Dedup savings ledger — the ROI statement for the whole dedup
    // stack (q207's "is more data worth it" twin, asked of removal):
    // near-dup components bucketed by size (2, 3-4, 5-8, 9-16, 17+,
    // plus the singleton row), each bucket reporting components, docs,
    // removable docs and the TOKEN mass keep-best dedup would excise
    // (survivor = q67's (quality DESC, doc_id) convention, so the
    // ledger prices exactly the pipeline's real keep policy), with the
    // removal share of the corpus token budget in ppm. Rides the
    // session component + token-profile artifacts; per-component math
    // is one window rank; the ledger itself is a 6-row aggregate.
    "q211_dedup_savings" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docProfile(s, d).select(col("doc_id").cast("long").as("doc"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tok"),
        col("quality"))
      val toksP = graft.ops.TransientCache.persist(toks)
      val comps = simhashComps(s, d)
      val ranked = comps.join(toksP, "doc")
        .withColumn("rn", row_number().over(Window.partitionBy(col("comp"))
          .orderBy(col("quality").desc, col("doc"))))
      val perComp = ranked.groupBy(col("comp"))
        .agg(count(lit(1)).as("sz"), sum(col("n_tok")).as("tok"),
          sum(when(col("rn") >= 2, col("n_tok")).otherwise(0L))
            .as("tok_removed"))
      val multi = perComp.groupBy(
          when(col("sz") === 2, "2").when(col("sz") <= 4, "3-4")
            .when(col("sz") <= 8, "5-8").when(col("sz") <= 16, "9-16")
            .otherwise("17+").as("size_bucket"))
        .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_docs"),
          (sum(col("sz")) - count(lit(1))).as("n_removed_docs"),
          sum(col("tok")).as("tokens_total"),
          sum(col("tok_removed")).as("tokens_removed"))
      val single = toksP.join(comps, Seq("doc"), "left_anti")
        .agg(count(lit(1)).as("n_components"), count(lit(1)).as("n_docs"),
          lit(0L).as("n_removed_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("tokens_total"),
          lit(0L).as("tokens_removed"))
        .select(lit("1").as("size_bucket"), col("n_components"),
          col("n_docs"), col("n_removed_docs"), col("tokens_total"),
          col("tokens_removed"))
      multi.unionByName(single)
        .crossJoin(toksP.agg(coalesce(sum(col("n_tok")), lit(0L))
          .as("corpus_tokens")))
        .select(col("size_bucket"), col("n_components"), col("n_docs"),
          col("n_removed_docs"), col("tokens_total"), col("tokens_removed"),
          when(col("corpus_tokens") > 0,
            expr("CAST((1000000 * tokens_removed) DIV corpus_tokens AS BIGINT)"))
            .otherwise(lit(0L)).as("removed_ppm"))
        .orderBy(col("size_bucket"))
    }),

    "q205_source_influence" -> ((s, d) => {
      val cnt = trigramShingles(s, d).join(docSourceMap(s, d), "doc")
        .groupBy(col("s"), col("source")).agg(count(lit(1)).as("cnt"))
      val cntP = graft.ops.TransientCache.persist(cnt)
      val dfg = cntP.groupBy(col("s")).agg(sum(col("cnt")).as("df"))
      val sources = Tables.documents(s, d).select(col("source")).distinct()
      val resid = dfg.crossJoin(broadcast(sources))
        .join(cntP, Seq("s", "source"), "left")
        .withColumn("r", col("df") - coalesce(col("cnt"), lit(0L)))
      val per = resid.groupBy(col("source"))
        .agg(sum(col("r")).as("n_postings_wo"),
          sum(when(col("r") >= 2, col("r")).otherwise(0L)).as("n_dup_wo"))
      val full = dfg.agg(sum(col("df")).as("n_postings"),
        sum(when(col("df") >= 2, col("df")).otherwise(0L)).as("n_dup"))
      per.crossJoin(full)
        .select(col("source"), col("n_postings_wo"), col("n_dup_wo"),
          expr("CAST((1000000 * n_dup_wo) DIV n_postings_wo AS BIGINT)")
            .as("dup_ppm_wo"),
          (expr("CAST((1000000 * n_dup) DIV n_postings AS BIGINT)") -
            expr("CAST((1000000 * n_dup_wo) DIV n_postings_wo AS BIGINT)"))
            .as("influence_ppm"))
        .orderBy(col("source"))
    }),

    // Deletion repair of the near-dup COMPONENT artifact — the hard
    // sibling of q201's claim-index purge: deleting a doc can SPLIT a
    // component (it may be the only bridge between two dup clusters),
    // so unlike min-reelection this repair must re-run connectivity —
    // but only inside components that contained a tombstoned doc.
    // Unaffected components keep their labels untouched (their edge
    // sets cannot change: any edge touching a tombstone lies in that
    // tombstone's own component by definition), so the repair bill is
    // bounded by the affected components' edges, never the corpus.
    // Affected components re-run through the same CC dispatch as the
    // original build; members left edge-less drop out of the artifact
    // (no longer near-dup nodes). Oracle recomputes components of the
    // filtered corpus's pair graph from scratch via the q54 recursive
    // CTE — the compare IS repair ≡ recompute, splits included.
    "q203_component_repair" -> ((s, d) => {
      val comps = simhashComps(s, d)
      val tomb = Tables.documents(s, d).where(col("source") === "src2")
        .select(col("doc_id").cast("long").as("doc"))
      val affected = comps.join(tomb, "doc").select(col("comp")).distinct()
      val keep = comps.join(affected, Seq("comp"), "left_anti")
      val edges = Dedup.simhashHammingPairsFromSigs(simhashSigs(s, d), 4)
      val survEdges = edges
        .join(tomb.select(col("doc").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(tomb.select(col("doc").as("doc_b")), Seq("doc_b"), "left_anti")
        .join(comps.select(col("doc").as("doc_a"), col("comp")), "doc_a")
        .join(affected, "comp")
        .select(col("doc_a"), col("doc_b"))
      val repaired = graft.ext.Components
        .connectedComponentsAuto(survEdges, "doc_a", "doc_b")
      keep.select(col("doc").as("doc_id"), col("comp").as("component"))
        .union(repaired.select(col("node").as("doc_id"),
          col("comp").as("component")))
        .orderBy(col("doc_id"))
    }),

    // Arrival-side incremental component maintenance — the MERGE case
    // completing the IVM triptych (q126 aggregates, q213 joins, q203
    // the deletion/SPLIT case): a new shard (every 10th doc) lands, new
    // near-dup edges appear, and components can only GROW — so the
    // stored labeling is carried over untouched except for components
    // an incoming edge touches, and connectivity re-runs ONLY over
    // (old edges inside touched components) ∪ (new edges). The scoping
    // is provable like q203's: an old component no new edge touches
    // cannot change (its edge set didn't). Oracle recomputes components
    // of the FULL pair graph (q54's recursive CTE) — maintenance ≡
    // recompute, merges included. At 100 TB the bill is the new
    // shard's edges plus the touched components' edges — the labeling
    // of yesterday's corpus is never re-derived.
    "q214_component_arrival" -> ((s, d) => {
      val edges = graft.ops.TransientCache.persist(
        Dedup.simhashHammingPairsFromSigs(simhashSigs(s, d), 4)
          .select(col("doc_a"), col("doc_b")))
      def isNew(c: org.apache.spark.sql.Column) = c % 10 === 0
      val oldE = edges.where(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val newE = graft.ops.TransientCache.persist(
        edges.where(isNew(col("doc_a")) || isNew(col("doc_b"))))
      // Stored state stand-in: the old corpus's labeling (in production
      // this is yesterday's persisted component table).
      val oldComps = graft.ops.TransientCache.persist(
        graft.ext.Components.connectedComponentsAuto(oldE, "doc_a", "doc_b"))
      val touched = newE.select(col("doc_a").as("node"))
        .union(newE.select(col("doc_b").as("node"))).distinct()
      val affected = oldComps.join(touched, "node")
        .select(col("comp")).distinct()
      val keep = oldComps.join(affected, Seq("comp"), "left_anti")
      val affOldE = oldE
        .join(oldComps.select(col("node").as("doc_a"), col("comp")), "doc_a")
        .join(affected, "comp").select(col("doc_a"), col("doc_b"))
      val merged = graft.ext.Components.connectedComponentsAuto(
        affOldE.union(newE), "doc_a", "doc_b")
      keep.select(col("node").as("doc_id"), col("comp").as("component"))
        .union(merged.select(col("node").as("doc_id"),
          col("comp").as("component")))
        .orderBy(col("doc_id"))
    }),

    // Prefix-filtered EXACT similarity self-join (AllPairs, Bayardo et
    // al. 2007; PPJoin, Xiao et al. 2008) — the exact counterpart of
    // LSH banding in the dedup-strategy matrix: order grams by global
    // rarity (ascending df, gram tiebreak), index only each doc's first
    // n − ceil(t·n) + 1 grams (t = 4/5, the realistic near-verbatim
    // dedup threshold: only each doc's rarest ~fifth is indexed), and
    // every J ≥ t pair still collides on ≥ 1 indexed gram (the prefix
    // lemma), while hot boilerplate grams sort last and never enter the
    // index. The join-cost audit is ANALYTIC, never materialized:
    // Σ C(df, 2) over posting sizes = the exact row count the unpruned
    // self-join would fan out, vs the same sum over prefix postings —
    // the first bench run of this query materialized the unpruned pair
    // space "as an audit baseline" and paid 115 s at sf0.1 for it; the
    // collision identity gives the same number from a vocabulary-sized
    // aggregate. The oracle still derives the FINAL pairs from the
    // full unpruned join (tractable at oracle SF), so the compare
    // proves the pruning lossless, not just internally consistent.
    "q202_prefix_filter_join" -> ((s, d) => {
      val sh = bigramShingles(s, d)
      val collFull = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .agg(sum(expr("df * (df - 1) DIV 2")).as("n_collisions_full"))
      // The prefix index AND the pair-grain candidate table are both
      // SESSION artifacts shared with q228 (r9 verdict item 4: the two
      // queries shared the index but each re-ran its own posting
      // self-join + pair aggregate — the two most expensive joins in
      // the suite). n_prefix_candidates is the shared table's COUNT,
      // and verification reads its positional-surviving subset —
      // lossless, because truth ⊆ positional ⊆ prefix (ExtSpec pins the
      // containment; the oracle still derives n_pairs from the FULL
      // unpruned join, so a wrongly-pruned true pair = hash mismatch).
      val pre = graft.ops.SessionCache.getOrBuild(s, s"prefix_postings:4:5:$d")(
        Dedup.prefixPostings(sh, 4, 5))
      val collPre = pre.groupBy(col("s")).agg(count(lit(1)).as("pdf"))
        .agg(sum(expr("pdf * (pdf - 1) DIV 2")).as("n_collisions_prefix"))
      val pairs = ppjoinPairs(s, d)
      collFull.crossJoin(collPre)
        .crossJoin(pairs.agg(count(lit(1)).as("n_prefix_candidates")))
        .crossJoin(ppjoinVerified(s, d).agg(count(lit(1)).as("n_pairs")))
        .select(col("n_collisions_full"), col("n_collisions_prefix"),
          col("n_prefix_candidates"), col("n_pairs"),
          expr("CAST((1000000 * (n_collisions_full - n_collisions_prefix)) " +
            "DIV n_collisions_full AS BIGINT)").as("pruned_ppm"))
    }),

    // PPJoin positional filter (Xiao et al. 2008) — the candidate
    // funnel q202's prefix rule starts, run one stage deeper: prefix+
    // length candidates → positional-filtered candidates → exact
    // verified pairs, all at the same t = 4/5. The collision join is
    // aggregated ONCE to PAIR grain — groupBy(doc_a, doc_b).max(pos_ok)
    // — and only that pair-sized table persists; both candidate counts
    // and the verification input are projections of it. (r7 verdict:
    // the previous plan persisted the COLLISION-grain join output and
    // distinct'ed it twice; collision cardinality ≫ pair cardinality,
    // so the persist thrashed exactly under memory pressure — 4.8 s on
    // the builder host, 61.7 s on the pressured driver host. The
    // aggregate is strictly less state: partial map-side max collapses
    // collisions before the shuffle, the same answer comes out, and
    // the persisted footprint is what SCALE.md always claimed.)
    // Lossless by construction AND by oracle: n_pairs verifies
    // from the POSITIONAL candidates while the oracle counts the full
    // unpruned join — a true pair wrongly pruned shows as a mismatch.
    "q228_ppjoin_positional" -> ((s, d) => {
      // The pair-grain candidate table AND the verified-pair table are
      // SESSION artifacts shared with q202 (r9 verdict item 4) — see
      // [[ppjoinPairs]]/[[ppjoinVerified]]; every output column is a
      // projection of the two shared tables.
      val pairs = ppjoinPairs(s, d)
      pairs.agg(count(lit(1)).as("n_prefix_candidates"),
          sum(col("pos_ok")).cast("long").as("n_positional_candidates"))
        .crossJoin(ppjoinVerified(s, d).agg(count(lit(1)).as("n_pairs")))
        .select(col("n_prefix_candidates"), col("n_positional_candidates"),
          col("n_pairs"),
          expr("CAST((1000000 * (n_prefix_candidates - " +
            "n_positional_candidates)) DIV n_prefix_candidates AS BIGINT)")
            .as("positional_pruned_ppm"))
    }),

    // Filter-attribution Venn: the FILTER-side twin of q183's dedup
    // cascade. Every doc is flagged by three independent gates the
    // curation loop already computes — low quality score (q41's
    // formula, < 33 ≈ bottom quartile), high within-doc repetition
    // (q62's duplicate-bigram share, > 65 000 ppm ≈ top decile) and
    // language-routing mismatch (q197's confusion, detected ≠ label) —
    // and rolls up into the 2³ cells with docs + tokens per cell. The
    // table answers the budget question single-filter reports can't:
    // how much removal is double-counted across gates, and what each
    // gate removes EXCLUSIVELY (the only defensible reason to keep
    // paying for it). One shared-profile pass + one bigram pass,
    // joined at doc grain — no new corpus scan when the profile is
    // warm.
    "q199_filter_venn" -> ((s, d) => {
      val prof = docProfile(s, d).select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality"),
        when(col("lang_detected") =!= col("lang"), 1).otherwise(0)
          .as("f_lang"))
      val rep = TextAnalysis
        .repetitionProfile(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("dup_ppm"))
      prof.join(rep, Seq("doc_id"), "left")
        .select(
          when(col("quality") < 33, 1).otherwise(0).as("f_quality"),
          when(coalesce(col("dup_ppm"), lit(0L)) > 65000, 1).otherwise(0)
            .as("f_repetition"),
          col("f_lang"), col("n_tokens"))
        .groupBy(col("f_quality"), col("f_repetition"), col("f_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("f_quality"), col("f_repetition"), col("f_lang"))
    }),

    // SimHash dedup quality audit — q149's confusion discipline applied
    // to the OTHER near-dup signal: the Hamming-≤4 pair set (q48's
    // predicate, same session signature artifact) scored against the
    // exact bigram-Jaccard ground truth (q24's predicate) as integer
    // confusion counts + ppm recall/precision. Together with q149 this
    // completes the audit matrix over both banding families: MinHash
    // measures set overlap, SimHash weighted bit agreement — how
    // differently they trade recall for precision on the same corpus is
    // exactly what this pair of audits quantifies.
    "q194_simhash_dedup_audit" -> ((s, d) => {
      val truth = jaccardTruth(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val pred = Dedup.simhashHammingPairsFromSigs(simhashSigs(s, d), 4)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
      truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
        .agg(sum(col("t")).as("n_truth"), sum(col("p")).as("n_pred"),
          sum(when(col("t").isNotNull && col("p").isNotNull, lit(1L))
            .otherwise(lit(0L))).as("n_tp"))
        .select(col("n_truth"), col("n_pred"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"),
          expr("(1000000 * n_tp) div n_pred").as("precision_ppm"))
    }),

    // Dedup-cascade attribution: the stage report every curation run
    // publishes — how many docs (and tokens) each stage of the
    // exact → MinHash-LSH → SimHash cascade removes, under the greedy
    // keep-lowest-id convention applied stage by stage. A stage only
    // counts a doc as removed if its lower-id duplicate partner SURVIVED
    // all earlier stages (a doc can't be "removed by minhash" on the
    // strength of a partner that exact-dedup already deleted). The
    // convention is deliberately non-iterative WITHIN a stage (partner
    // must survive prior stages, not the current one) so the attribution
    // is a single well-defined dataflow, not a sequential sweep — at
    // corpus scale each flag is one key-partitioned join/window over the
    // stage's existing session artifact (content hashes / LSH pairs /
    // simhash signatures); nothing new is quadratic.
    "q183_dedup_cascade" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.tokens(TextAnalysis.normalize(col("text"))))
          .cast("long").as("n_tokens"),
        md5(TextAnalysis.normalize(col("text")).cast("binary")).as("content_hash"))
      // stage 1: exact — keep the lowest doc_id of each content-hash group
      val flagged = docs.withColumn("exact_rm",
        col("doc_id") > min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      val s1 = flagged.where(!col("exact_rm")).select(col("doc_id"))
      // stage 2: MinHash-LSH verified pairs (q23's predicate) among
      // exact survivors — b removed iff some surviving a < b pairs with it
      val lshp = lshVerifiedPairs(s, d)
      val lshRm = lshp
        .join(s1.select(col("doc_id").as("doc_a")), "doc_a")
        .join(s1.select(col("doc_id").as("doc_b")), "doc_b")
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("lsh_rm", lit(true))
      // stage 3: identical simhash among survivors of stages 1-2
      val s2 = s1.join(lshRm.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val simRm = s2
        .join(simhashSigs(s, d).withColumnRenamed("doc", "doc_id"), "doc_id")
        .withColumn("sim_rm",
          col("doc_id") > min(col("doc_id")).over(Window.partitionBy(col("simhash"))))
        .where(col("sim_rm")).select(col("doc_id"), col("sim_rm"))
      flagged
        .join(lshRm, Seq("doc_id"), "left")
        .join(simRm, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("exact_rm"), "1_exact")
            .when(col("lsh_rm"), "2_minhash")
            .when(col("sim_rm"), "3_simhash")
            .otherwise("4_kept"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("stage"))
    }),

    // ExactSubstr dedup (Lee et al. 2022): maximal cross-doc shared token
    // spans >= 15 tokens, via positional window postings + diagonal
    // chaining — the distributed re-expression of the paper's suffix
    // array. Window hashes over 50 postings are contract-dropped
    // (boilerplate guard; the oracle applies the identical HAVING).
    // The span table is a session artifact shared with q134's rewrite.
    "q132_shared_spans" -> ((s, d) =>
      sharedSpansTable(s, d)
        .orderBy("a", "b", "a_pos", "b_pos")),

    // Winnowing fingerprint matching (Schleimer et al. 2003, the MOSS
    // screening rule): doc pairs sharing >= 3 selected fingerprints,
    // with each side's fingerprint count for containment context. Sits
    // between MinHash (whole-doc similarity, no locality) and q132's
    // ExactSubstr (exact spans, heavier pair stage) on the dedup ladder:
    // guaranteed to catch any shared run >= w+k-1 = 11 tokens while
    // sampling only ~2/(w+1) of gram hashes. Fingerprints over 50 docs
    // are contract-dropped (the q132 boilerplate guard; oracle applies
    // the identical HAVING) so pairing stays inside bounded postings.
    "q224_winnowing_pairs" -> ((s, d) => {
      val fpd = winnowFps(s, d).select(col("doc"), col("fph")).distinct()
      val rare = fpd.groupBy(col("fph")).agg(count(lit(1)).as("nd"))
        .where(col("nd") <= 50).select(col("fph"))
      val f2 = fpd.join(rare, "fph")
      val cnt = f2.groupBy(col("doc")).agg(count(lit(1)).as("n_fp"))
      f2.as("x").join(f2.as("y"),
          col("x.fph") === col("y.fph") && col("x.doc") < col("y.doc"))
        .groupBy(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .join(cnt.select(col("doc").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
        .join(cnt.select(col("doc").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_a"), col("n_b"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
    }),

    // Winnowing density audit (the q222/q223 measured-vs-theory
    // discipline applied to fingerprint selection): per source, selected
    // fingerprints per gram hash in ppm against the paper's proven
    // expected density 2/(w+1) (§4: 222222 ppm at w=8). Denominators
    // derive from the token profile (n_grams = n_tokens-3 per doc, the
    // winnowable windows n_tokens-10), numerator is the session
    // fingerprint artifact — no re-tokenize. Measured < theory is the
    // honest signature of DEDUPED selections (repeated text re-selects
    // the same (pos, hash) once); a uniform-random stream would sit on
    // the curve.
    "q225_winnow_density" -> ((s, d) => {
      val nt = docProfile(s, d)
        .select(col("doc_id").cast("long").as("doc"), col("source"),
          col("n_tokens").cast("long").as("ntok"))
      val denom = nt.groupBy(col("source"))
        .agg(sum(greatest(col("ntok") - 3, lit(0L))).as("n_grams"),
          sum(greatest(col("ntok") - 10, lit(0L))).as("n_windows"))
      val numer = winnowFps(s, d)
        .join(nt.select(col("doc"), col("source")), "doc")
        .groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
      denom.join(numer, "source")
        .select(col("source"), col("n_grams"), col("n_windows"), col("n_fp"),
          expr("CAST((1000000 * n_fp) DIV n_grams AS BIGINT)")
            .as("density_ppm"),
          lit(222222L).as("theo_density_ppm"))
        .orderBy(col("source"))
    }),

    // WHERE does duplicated text live inside documents? Each shared-span
    // occurrence (both sides of every q132 pair) lands in a
    // relative-position decile of its host doc (q218's integer formula);
    // per decile: occurrences, duplicated token mass, and its share of
    // the decile's total token mass in ppm. Headers-vs-footers is the
    // actionable split — a footer-heavy profile says chunk-grain
    // excision (q138) suffices; a uniform profile says whole-doc dedup.
    // Rides the session span artifact + token profile; one union, one
    // join, one groupBy.
    "q221_span_position_profile" -> ((s, d) => {
      val sp = sharedSpansTable(s, d)
      val occ = sp.select(col("a").as("doc"), col("a_pos").as("pos"),
          col("span_tokens"))
        .unionByName(sp.select(col("b").as("doc"), col("b_pos").as("pos"),
          col("span_tokens")))
      val nTok = docProfile(s, d)
        .select(col("doc_id").cast("long").as("doc"),
          col("n_tokens").cast("long").as("ntok"))
        .where(col("ntok") > 0)
      val decTok = posPostings(s, d).join(nTok, "doc")
        .select(expr("CAST(((pos - 1) * 10) DIV ntok AS BIGINT)").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_decile_tokens"))
      occ.join(nTok, "doc")
        .select(expr("CAST(((pos - 1) * 10) DIV ntok AS BIGINT)").as("decile"),
          col("span_tokens"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_tokens")).as("dup_tokens"))
        .join(decTok, Seq("decile"), "right")
        .select(col("decile"), coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          col("n_decile_tokens"),
          expr("CAST((1000000 * coalesce(dup_tokens, 0)) DIV n_decile_tokens " +
            "AS BIGINT)").as("dup_share_ppm"))
        .orderBy(col("decile"))
    }),

    // Span families: connected components over the shared-span pair
    // graph — documents transitively joined by >=15-token exact overlaps
    // form one family (the unit a span-dedup pass processes together, and
    // the third consumer of the session span artifact). Window-partitioned
    // family sizes ride the membership table.
    "q136_span_families" -> ((s, d) => {
      val pairs = sharedSpansTable(s, d).select(col("a"), col("b")).distinct()
      val comps = graft.ext.Components.connectedComponentsAuto(pairs, "a", "b")
      comps
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
        .select(col("node").as("doc_id"), col("comp").as("family"),
          col("n_members"))
        .orderBy("doc_id")
    }),

    // Paragraph-grain span families: ExactSubstr spans confined to
    // 64-token chunks, components over (doc, chunk) units — the grain at
    // which a shared boilerplate footer clusters only the footer chunks
    // instead of transitively chaining unrelated documents into one
    // family (the q136 failure mode at corpus scale). Unit id =
    // doc*1e6 + chunk, decoded back to columns for the result.
    "q138_chunk_span_families" -> ((s, d) => {
      val pairs = Dedup.sharedSpansChunked(Tables.documents(s, d),
          "text", "doc_id", window = 10, minSpan = 15, maxPostings = 50,
          chunkTokens = 64)
        .select((col("a") * 1000000L + col("a_chunk")).as("ua"),
          (col("b") * 1000000L + col("b_chunk")).as("ub"))
        .distinct()
      val comps = graft.ext.Components.connectedComponentsAuto(pairs, "ua", "ub")
      comps
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
        .select(((col("node") - col("node") % 1000000L) / 1000000L)
            .cast("long").as("doc_id"),
          (col("node") % 1000000L).as("chunk_idx"),
          col("comp").as("family"), col("n_members"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // The rewrite half of ExactSubstr dedup: excise every shared span
    // from its b-side (higher-id) doc — first occurrence wins — and
    // return the surviving normalized text with before/after counts.
    // Probes the same session span artifact as q132; n_before rides the
    // shared token profile.
    "q134_span_rewrite" -> ((s, d) =>
      Dedup.removeSharedSpans(Tables.documents(s, d), sharedSpansTable(s, d),
          "text", "doc_id")
        .join(docProfile(s, d)
          .select(col("doc_id").as("doc"), col("n_tokens").as("n_before")), "doc")
        .select(col("doc").as("doc_id"), col("n_before"),
          col("n_after"), col("text_dedup"))
        .orderBy("doc_id")),

    // Embedding near-dup pairs: cosine >= 0.3 within label blocks,
    // integer-exact threshold.
    "q26_embed_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", "label", 3, 10)
        .orderBy("vec_a", "vec_b")),

    // Brute-force cosine top-5 for query vectors (vec_id < 10).
    "q27_ann_brute_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 10, 5).orderBy("query_id", "rank")),

    // LSH-bucketed ANN top-3 (8 md5-derived hyperplanes).
    "q28_ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 10, 3, 8).orderBy("query_id", "rank")),

    // IVF nprobe sweep — the serving-knob curve q198 draws for LSH
    // bands and q257 for the hot-band cap, drawn for the IVF probe
    // count: recall@10 vs candidates SCANNED at nprobe ∈ {1,2,4,8},
    // all off the shared centroid convention. n_scanned is derived
    // from the same query-cell ranking the serving path probes (cell
    // sizes summed, the query's own row excluded once — it sits in
    // exactly its rn=1 cell), so the cost column measures the real
    // funnel, not an estimate. The table an operator reads before
    // setting nprobe at corpus scale, where each probe is a full cell
    // scan.
    "q267_ivf_nprobe_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          col("vec_id") < 10, 10)
        .select(col("query_id"), col("vec_id"), lit(1L).as("t"))
      val csize = Similarity.ivfAssignments(emb, "vec_id", "embedding", 16)
        .groupBy(col("cid")).agg(count(lit(1)).as("csz"))
      val qr = graft.ops.TransientCache.persist(
        Similarity.queryCellRanks(emb, "vec_id", "embedding",
          col("vec_id") < 10, 16))
      val nq = qr.where(col("rn") === 1).agg(count(lit(1)).as("n_queries"))
      val rows = Seq(1, 2, 4, 8).map { np =>
        val scanned = qr.where(col("rn") <= np)
          .join(broadcast(csize), Seq("cid"))
          .agg(sum(col("csz")).as("raw"))
          .crossJoin(nq)
          .select((col("raw") - col("n_queries")).as("n_scanned"))
        Similarity.ivfTopK(emb, "vec_id", "embedding",
            col("vec_id") < 10, 10, 16, np)
          .select(col("query_id"), col("vec_id"))
          .join(truth, Seq("query_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_pred"),
            coalesce(sum(col("t")), lit(0L)).as("n_tp"))
          .crossJoin(scanned)
          .select(lit(np).as("nprobe"), col("n_scanned"), col("n_pred"),
            col("n_tp"))
      }.reduce(_ unionByName _)
      rows.crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(col("nprobe"), col("n_scanned"), col("n_pred"),
          col("n_truth"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"))
        .orderBy(col("nprobe"))
    }),

    // Graph-walk ANN with in-pass recall audit — the third serving
    // architecture next to bucketed LSH (q28) and IVF cell probing
    // (q29), the NSW/HNSW class re-expressed as bounded-round joins:
    // coarse-route each query to its IVF cell, enter at the cell's
    // lowest-id member, then a 3-round beam walk (width 4) over the
    // stored q63 kNN graph, scoring ONLY what the walk touches.
    // `hit` flags membership in the exact brute-force top-10 (the
    // q109 audit discipline, carried in-row); `n_explored` is the
    // walk's whole cost — the economy a graph walk buys over q29's
    // full-cell scans, priced in recall on the same table.
    "q262_graph_ann_beam" -> ((s, d) => {
      val truth = Similarity.bruteForceTopK(Tables.embeddings(s, d),
          "vec_id", "embedding", col("vec_id") < 10, 10)
        .select(col("query_id"), col("vec_id"), lit(1).as("h"))
      Similarity.graphBeamSearch(Tables.embeddings(s, d), "vec_id",
          "embedding", knnEdges(s, d), col("vec_id") < 10, 10, 4, 3)
        .join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank"), col("vec_id"), col("dot"),
          coalesce(col("h"), lit(0)).cast("int").as("hit"),
          col("n_explored"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The bridged graph walk — q262's audit exposed WHY the cell-local
    // graph caps recall (the walk cannot leave the entry cell); this
    // is the NSW remedy measured: ≤ 3 long-range "bridge" edges per
    // vector (to the min-id member of its 3 best cells) union the
    // same q63 kNN edges, SAME walk parameters, same in-row audit.
    // Reading q262 and q263 side by side prices the bridges: what
    // recall the extra linear-in-N edges buy, at what extra
    // n_explored — the measured argument for long-range edges before
    // trusting any graph index at corpus scale.
    "q263_graph_ann_bridged" -> ((s, d) => {
      val truth = Similarity.bruteForceTopK(Tables.embeddings(s, d),
          "vec_id", "embedding", col("vec_id") < 10, 10)
        .select(col("query_id"), col("vec_id"), lit(1).as("h"))
      val edges = knnEdges(s, d).select(col("vec_id"), col("nbr_id"))
        .unionByName(Similarity.bridgeEdges(Tables.embeddings(s, d),
          "vec_id", "embedding", 16, 3))
        .distinct()
      Similarity.graphBeamSearch(Tables.embeddings(s, d), "vec_id",
          "embedding", edges, col("vec_id") < 10, 10, 4, 3)
        .join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank"), col("vec_id"), col("dot"),
          coalesce(col("h"), lit(0)).cast("int").as("hit"),
          col("n_explored"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // MMR diversified re-rank (Carbonell & Goldstein 1998, λ=0.7): the
    // top-20 cosine candidates for query vec 0, greedily re-picked to
    // 8 by integer 7·rel − 3·maxsim — the diversification pass that
    // keeps a result page from stacking near-identical hits. Oracle is
    // an independent recursive-CTE implementation of the same greedy.
    "q147_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d), "vec_id", "embedding",
        0L, 20, 8).orderBy("rank")),

    // IVF ANN top-3: 16 deterministic centroids, 2 probed cells.
    "q29_ann_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 10, 3, 16, 2).orderBy("query_id", "rank")),

    // Embedding hygiene audit per label: zero vectors, ragged dims,
    // quantized-norm envelope, integer-exact within-group scatter.
    "q127_embedding_qc" -> ((s, d) =>
      Similarity.qcStats(Tables.embeddings(s, d), "vec_id", "embedding", "label")
        .withColumnRenamed("grp", "label").orderBy("label")),

    // Embedding centroid drift: pairwise squared-L2 distance between
    // per-label centroids in milli-quant units — the embedding-space
    // drift monitor (are two labels/splits drifting apart or collapsing
    // together), the vector twin of the scalar drift family (q119 PSI,
    // q178 KS). Centroid components use q182's floor-of-double division
    // (sign-safe across engines; 1000·Σq < 2^53 so both operands reach
    // the divide exactly); everything downstream is integer. The
    // centroid table is labels×dims = model-sized, so the pair join
    // never touches vector rows.
    "q188_centroid_drift" -> ((s, d) => {
      val vecs = graft.ops.TransientCache.persist(
        Tables.embeddings(s, d).select(col("label"), col("embedding")))
      // per-label vector count: a null or short vector still counts
      val n = vecs.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val cent = centroidRegisters(vecs).select(col("label"), col("pos"), col("sx"))
        .join(n, "label")
        .select(col("label"), col("pos"),
          floor(lit(1000.0) * col("sx").cast("double") / col("n").cast("double"))
            .cast("long").as("c"))
      val a = cent.select(col("label").as("label_a"), col("pos"), col("c").as("ca"))
      val b = cent.select(col("label").as("label_b"), col("pos"), col("c").as("cb"))
      a.join(b, Seq("pos")).where(col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("dist2"))
        .join(n.select(col("label").as("label_a"), col("n").as("n_a")), "label_a")
        .join(n.select(col("label").as("label_b"), col("n").as("n_b")), "label_b")
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"), col("dist2"))
        .orderBy(col("label_a"), col("label_b"))
    }),

    // Hard-negative mining: top-5 most-similar vectors with a DIFFERENT
    // label per anchor (vec_id < 10) — contrastive-training pairs.
    "q128_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", col("vec_id") < 10, 5).orderBy("query_id", "rank")),

    // k-NN graph: every vector's top-3 neighbours within its IVF cell
    // (cell-local brute force — the scalable graph-build shape).
    "q63_knn_graph" -> ((s, d) =>
      knnEdges(s, d).orderBy("vec_id", "rank")),

    // Integer-exact two-pass k-means (k=8, lowest-id seeds): assign,
    // recompute centroids once (rounded ×10 integer means), re-assign.
    "q68_kmeans_embed" -> ((s, d) =>
      Clustering.kmeansTwoPass(Tables.embeddings(s, d), "vec_id", "embedding", 8)
        .orderBy(col("vec_id"))),

    // Product-quantization ANN (Jégou 2011): 4 subspaces × 8 codewords,
    // asymmetric-distance top-3 for query vectors vec_id < 10. The
    // trained model (codebook + codes + LUT) is a session-shared
    // artifact — q87's IVFADC runs the same codes behind its coarse
    // quantizer, the production shape (PQ codes are a persisted index,
    // not a per-query rebuild).
    "q84_pq_ann" -> ((s, d) =>
      ProductQuantization.pqTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", col("vec_id") < 10, 3, 4, 8,
          shareKey = Some(s"pq:$d:q10:4x8"))
        .orderBy(col("query_id"), col("rank"))),

    // Scalar-quantization (int8) ANN + in-pass recall audit: the
    // 1-byte-per-dim compression format next to PQ (q84), JL (q163)
    // and IVF (q29) — per-dim min/max codec, integer code/reconstruct,
    // asymmetric BIGINT distance, hit = membership in the exact top-3.
    "q231_sq8_ann" -> ((s, d) =>
      Similarity.sqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          col("vec_id") < 10, 3)
        .orderBy(col("query_id"), col("rank"))),

    // SemDeDup: k-means clusters (k=8), drop vectors with an earlier-id
    // in-cluster near-duplicate at cosine >= 0.3.
    "q85_semdedup" -> ((s, d) =>
      Clustering.semDedup(Tables.embeddings(s, d), "vec_id", "embedding", 8)
        .orderBy(col("vec_id"))),

    // IVFADC: the q84 PQ codes behind the q29 coarse quantizer — each
    // query scores only its 2 nearest of 16 cells (by_residual=false).
    "q87_ivfpq_ann" -> ((s, d) =>
      ProductQuantization.ivfpqTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", col("vec_id") < 10, 3, 4, 8, 16, 2,
          shareKey = Some(s"pq:$d:q10:4x8"))
        .orderBy(col("query_id"), col("rank"))),

    // Language-ID heuristic: stopword hits per language, priority argmax.
    // q40–q42 all read from the one-pass typed token profile (scan-speed
    // map; the column-HOF forms are the equivalence-tested slow twins).
    "q40_text_langid" -> ((s, d) =>
      docProfile(s, d)
        .select(col("doc_id"), col("lang"), col("lang_detected"),
          col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
        .orderBy("doc_id")),

    // Mixed-language / code-switching QC: per-doc consistency of chunk-
    // level language ID over non-overlapping 32-token blocks — chunks
    // disagreeing with the majority flag template spam, concatenation
    // junk, or genuine code-switching. Same detection rule as q40, per
    // chunk; ppm integer-exact.
    "q137_lang_consistency" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ch = TextAnalysis.chunkLangRows(Tables.documents(s, d), "text", "doc_id", 32)
      val tot = ch.groupBy(col("doc")).agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_lang") =!= "und", 1L).otherwise(0L)).as("n_det"))
      val maj = ch.where(col("chunk_lang") =!= "und")
        .groupBy(col("doc"), col("chunk_lang")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc"))
          .orderBy(desc("c"), col("chunk_lang"))))
        .where(col("rn") === 1)
        .select(col("doc"), col("chunk_lang").as("majority_lang"),
          col("c").as("n_majority"))
      tot.join(maj, Seq("doc"), "left")
        .select(col("doc").as("doc_id"), col("n_chunks"), col("n_det"),
          coalesce(col("majority_lang"), lit("und")).as("majority_lang"),
          coalesce(col("n_majority"), lit(0L)).as("n_majority"))
        .withColumn("consistency_ppm", expr(
          "CASE WHEN n_det > 0 THEN (1000000 * n_majority) div n_det ELSE 0 END"))
        .orderBy("doc_id")
    }),

    // Integer-exact quality scoring (diversity − stopword density).
    "q41_text_quality" -> ((s, d) =>
      docProfile(s, d)
        .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
          col("quality"))
        .orderBy("doc_id")),

    // Token counting (whitespace + regex-subword) + canonical fingerprint.
    "q42_text_tokens" -> ((s, d) =>
      docProfile(s, d)
        .select(col("doc_id"), col("n_tokens").as("n_ws_tokens"),
          col("n_subword"), col("n_chars_norm"), col("fingerprint"))
        .orderBy("doc_id")),

    // Karp-Rabin rolling-hash fingerprint over char 5-grams.
    "q47_text_rollinghash" -> ((s, d) =>
      TextAnalysis.rollingHashFingerprint(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc")),

    // Content-defined chunk dedup (LBFS cut points over the q47 gram
    // hash): variable-boundary chunks survive head insertions, so the
    // cross-doc shared-chunk share catches shifted duplicates that
    // fixed-stride windows (q60) miss. Chunk-hash grouped — the same
    // shuffle shape as exact dedup, never docs².
    "q142_cdc_chunks" -> ((s, d) => {
      val pairs = TextAnalysis.cdcChunkHashes(Tables.documents(s, d), "text", "doc_id")
      val docFreq = pairs.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc")).as("nd"))
      pairs.join(docFreq, "chunk_hash")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
        .withColumn("shared_ppm",
          expr("(1000000 * n_shared_chunks) div n_chunks"))
        .orderBy(col("doc"))
    }),

    // S8: real JDBC upsert round-trip (embedded Derby standing in for the
    // reference's Postgres ON CONFLICT loader): create → bulk-load batch 1
    // → upsert batch 2 (updates keys < 10) → read back. The oracle
    // reproduces the expected post-merge state relationally.
    "q39_jdbc_upsert" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString
      val url = s"jdbc:derby:$dir/db;create=true"
      graft.sink.JdbcSink.createMemberTables(url)
      val nation = Tables.nation(s, d)
      val batch1 = nation.select(col("n_nationkey").as("member_key"),
        col("n_name").as("caption"), col("n_regionkey").as("region_key"),
        lit(1).as("batch"))
      val batch2 = nation.where(col("n_nationkey") < 10)
        .select(col("n_nationkey").as("member_key"),
          concat(col("n_name"), lit(" v2")).as("caption"),
          (col("n_regionkey") + 100).as("region_key"),
          lit(2).as("batch"))
      graft.sink.JdbcSink.upsertBatch(s, url, batch1)
      graft.sink.JdbcSink.upsertBatch(s, url, batch2)
      // Materialize the read-back eagerly (localCheckpoint, released by
      // the runner via TransientCache), then shut the per-invocation
      // embedded database down and delete its directory — repeated
      // invocations in one JVM must not accumulate live Derby engines or
      // orphaned temp dirs. (At real scale the read-back would be a
      // partitioned JDBC read of a durable warehouse table, not a temp DB.)
      val back = graft.ops.TransientCache.track(
        graft.sink.JdbcSink.readTarget(s, url)
          .select(col("member_key"), col("caption"), col("region_key"), col("batch"))
          .orderBy(col("member_key"))
          .localCheckpoint(true))
      graft.sink.JdbcSink.shutdownAndDelete(dir)
      back
    }),

    // F17 scale path: inverted-index conjunctive search (postings
    // equi-lookup + AND count), never a full-corpus contains() scan.
    "q49_fts_inverted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.searchAllTerms(ftsInverted(s, d), Seq("spark", "merge"))
        .join(docs.select(col("doc_id"), col("source"), col("lang")), "doc_id")
        .orderBy("doc_id")
    }),

    // Exact-phrase search over positional postings — the phrase-query
    // half of the q49 inverted index (tsquery '<->' / Lucene
    // PhraseQuery semantics): term-pruned posting legs intersect on
    // (doc, candidate start), so the probe reads only the phrase
    // words' lists, never the corpus. TakeOrdered top-k output.
    "q146_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseHits(posPostings(s, d), Seq("table", "scan"))
        .select(col("doc").as("doc_id"), col("n_hits"))
        .orderBy(col("n_hits").desc, col("doc_id")).limit(20)),

    // Proximity search: 'table' within 3 tokens BEFORE-to-AFTER of
    // 'scan' (tsquery a <N> b / PhraseQuery slop) — q146's exact-phrase
    // probe relaxed to a bounded gap; same term-pruned posting legs,
    // tightest gap reported.
    "q156_proximity_search" -> ((s, d) =>
      TextAnalysis.proximityHits(posPostings(s, d), "table", "scan", 3)
        .select(col("doc").as("doc_id"), col("n_hits"), col("min_gap"))
        .orderBy(col("n_hits").desc, col("doc_id")).limit(20)),

    // Multimodal decode: REAL container parsing — each document is
    // encoded as an actual PNG/BMP/GIF file (by doc_id mod 3) and the
    // decode reads dimensions/format/payload from the bytes alone; the
    // oracle predicts every field from the generation formula.
    "q43_multimodal_decode" -> ((s, d) =>
      Multimodal.decode(s, Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .toDF().orderBy("media_id")),

    // Frame sampling: every 4th frame index, map-side explode.
    "q44_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.decode(s, Multimodal.mediaFromDocuments(Tables.documents(s, d))), 4)
        .groupBy("media_id", "n_frames")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("media_id")),

    // Image-hygiene filter + preprocessing plan — the vision-pipeline
    // twin of the q41/q89 text quality gates (LAION-style min-size and
    // aspect screens, then the CLIP-style shortest-side-224 resize +
    // center-crop plan for survivors). All arithmetic is BIGINT off the
    // REAL decoded header dims (the q43 codec): keep iff min(w,h) >= 64
    // and max <= 3*min; survivors get scale_ppm = 1e6*224 DIV short
    // side, target dims w*224 DIV short / h*224 DIV short (shortest
    // side lands exactly on 224 by construction), and the centered
    // 224x224 crop offsets. Dropped images keep NULL plan columns so
    // the QC and the plan are one scan — at 100 TB this runs at decode
    // speed with zero shuffles (the sort is the test-determinism tail).
    "q208_image_resize_plan" -> ((s, d) => {
      val imgs = Multimodal.decode(s,
          Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .toDF().where(col("kind") === "image" && col("format") =!= "invalid")
      val mn = least(col("width"), col("height")).cast("long")
      val mx = greatest(col("width"), col("height")).cast("long")
      val keep = mn >= 64 && mx <= lit(3L) * mn
      imgs.select(col("media_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          when(mn < 64, "too_small").when(mx > lit(3L) * mn, "extreme_aspect")
            .otherwise("keep").as("gate"),
          when(keep, expr("CAST((1000000 * 224) DIV least(width, height) AS BIGINT)"))
            .as("scale_ppm"),
          when(keep, expr("CAST((width * 224) DIV least(width, height) AS BIGINT)"))
            .as("target_w"),
          when(keep, expr("CAST((height * 224) DIV least(width, height) AS BIGINT)"))
            .as("target_h"),
          when(keep, expr("CAST(((width * 224) DIV least(width, height) - 224) DIV 2 AS BIGINT)"))
            .as("crop_x"),
          when(keep, expr("CAST(((height * 224) DIV least(width, height) - 224) DIV 2 AS BIGINT)"))
            .as("crop_y"))
        .orderBy(col("media_id"))
    }),

    // Perceptual media near-dup: block-mean hash (Yang et al. 2006) over
    // each decoded payload, then Hamming<=8 pairs through the SAME
    // pigeonhole banding machinery text SimHash uses (9 bands) — image
    // dedup rides the text dedup infrastructure unchanged. 64-bit
    // signature + threshold 8, both measured, not guessed (r10: the
    // old 5-of-32 config blew up quadratically at the 10× fixture —
    // random unrelated pairs collide at P(H≤5 of 32) ≈ 6e-5, so the
    // qualifying-pair SET itself grows as corpus², 2.9k → 354k pairs
    // for 10× docs, and most of the 32-bit output was that noise):
    // at 64 bits the measured distribution has planted near-dups at
    // Hamming 0-8, the unrelated ramp starting ~10 and centering ~30,
    // and a random collision rate P(H≤8 of 64) ≈ 3e-10 — output stays
    // genuinely-related-pairs-sized at any realistic corpus. The
    // oracle verifies the banded pair set against a full pairwise
    // compare (pigeonhole exactness is part of what's being checked).
    "q139_media_neardup" -> ((s, d) => {
      val sigs = graft.ops.TransientCache.persist(
        Multimodal.blockhashSignatures(
          Multimodal.mediaFromDocuments(Tables.documents(s, d)), 64))
      Dedup.simhashHammingPairsDedupSigs(sigs, 8, sigBits = 64)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))
        .orderBy("media_a", "media_b")
    }),

    // Video near-dup by shared FRAME content (the video twin of q139's
    // whole-payload hash): each decoded video splits at the GIF
    // sub-block granule into frames, frames hash with codegen'd md5,
    // and two videos pair IFF they share a frame hash — a postings join
    // inside each hash bucket (never videos²), frequency-capped at 50
    // owners per hash as CONTRACT (the oracle applies the same HAVING,
    // so the boilerplate guard can never silently change the answer —
    // q132's cap discipline). Overlap is set-grain Jaccard over each
    // video's DISTINCT frame hashes, integer-exact in ppm. At 100 TB
    // the frame-hash table is the only thing that shuffles, and a hot
    // intro/outro frame is exactly what the cap bounds.
    "q150_video_frame_neardup" -> ((s, d) => {
      val fh = graft.ops.TransientCache.persist(
        Multimodal.frameSegments(
            Multimodal.mediaFromDocuments(Tables.documents(s, d)))
          .select(col("media_id"),
            md5(col("frame_str").cast("binary")).as("h"))
          .distinct())
      val ok = fh.groupBy(col("h")).agg(count(lit(1)).as("nown"))
        .where(col("nown") <= 50).select(col("h"))
      val shared = fh.as("a").join(fh.as("b"), Seq("h"))
        .where(col("a.media_id") < col("b.media_id"))
        .join(ok, Seq("h"), "left_semi")
        .groupBy(col("a.media_id").as("media_a"),
          col("b.media_id").as("media_b"))
        .agg(count(lit(1)).as("n_shared"))
      val cnt = fh.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
      shared
        .join(cnt.select(col("media_id").as("media_a"), col("nf").as("n_a")),
          Seq("media_a"))
        .join(cnt.select(col("media_id").as("media_b"), col("nf").as("n_b")),
          Seq("media_b"))
        .select(col("media_a"), col("media_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          expr("(1000000 * n_shared) div (n_a + n_b - n_shared)")
            .as("jaccard_ppm"))
        .orderBy("media_a", "media_b")
    }),

    // Cross-source duplicate FLOW: the verified LSH near-dup pairs
    // (q23's predicate, same session signature artifact) rolled up to
    // source grain — which sources copy from which. The curation story
    // q151's KMV sketch estimates at set grain, here exact at pair
    // grain; the rollup is a broadcast source-map join over the
    // (already bounded) pair table, never a new pair expansion.
    "q169_dup_flow" -> ((s, d) => {
      val pairs = lshVerifiedPairs(s, d)
      val sm = docSourceMap(s, d)
      pairs
        .join(broadcast(sm.select(col("doc").as("doc_a"), col("source").as("sa"))),
          "doc_a")
        .join(broadcast(sm.select(col("doc").as("doc_b"), col("source").as("sb"))),
          "doc_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // IVF cell-balance audit: the index-health check behind q29/q63 —
    // cell sizes under the SAME assignment the probe path uses
    // (Similarity.ivfAssignments), each cell's corpus share and the
    // max/avg imbalance factor in ppm. At scale cell = partition key;
    // an imbalance factor far above 10⁶ means the "cell-local work is
    // bounded" premise is broken and the index needs re-centroiding —
    // the measurement that decides it, not a guess (the q143 salt-plan
    // discipline applied to the ANN index).
    "q170_ivf_balance" -> ((s, d) => {
      val asg = Similarity.ivfAssignments(
        Tables.embeddings(s, d), "vec_id", "embedding", 16)
      val cs = graft.ops.TransientCache.persist(
        asg.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs")))
      val st = cs.agg(max(col("n_vecs")).as("mx"), sum(col("n_vecs")).as("tot"),
        count(lit(1)).as("nc"))
      cs.crossJoin(st)
        .select(col("cid"), col("n_vecs"),
          expr("(1000000 * n_vecs) div tot").as("share_ppm"),
          expr("(1000000 * mx * nc) div tot").as("imbalance_ppm"))
        .orderBy(col("cid"))
    }),

    // Audio near-dup by shared constellation landmarks — the audio leg
    // of the multimodal dedup trio (image q139, video q150): each doc
    // becomes a REAL mono-PCM RIFF/WAV (Multimodal.audioFromDocuments),
    // and the decoded sample stream is fingerprinted with the landmark
    // scheme of Wang 2003 ("An Industrial-Strength Audio Search
    // Algorithm") re-expressed declaratively: peak picking is two
    // window maxima (a sample is a peak iff it beats the previous 4
    // strictly, the next 4 non-strictly — leftmost-of-plateau dedup —
    // and sits above the doc mean, `v·n > Σv` integer-exact), and a
    // landmark is an anchor peak + its next TWO peaks (three values +
    // both gaps) via lead() over the per-doc peak sequence — bounded
    // fan-out 1, no self-join at fingerprint time. Two payloads match
    // iff they share >= 8 distinct landmarks (measured: chance
    // collisions die by 7 on this corpus, true near-dups sit at 13-55),
    // with a 50-owner frequency cap per landmark key as CONTRACT (the
    // oracle applies the same HAVING, q132's cap discipline). The key
    // is shift-invariant (relative gaps only) so shared audio snippets
    // match at any offset. At 100 TB the landmark table is the only
    // thing that shuffles and the pair join never leaves a landmark
    // bucket.
    "q157_audio_fingerprint" -> ((s, d) => {
      // the landmark table is a session artifact (the minhash/simhash
      // signature-table pattern): a pipeline fingerprints its corpus
      // once, stores the landmark index, and every match pass probes it
      val lands = graft.ops.SessionCache.getOrBuild(s, s"audio_landmarks:$d")(
        Multimodal.landmarkTable(
          Multimodal.audioFromDocuments(Tables.documents(s, d))))
      val key = Seq("v1", "v2", "v3", "dt1", "dt2")
      val ok = lands.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("nown")).where(col("nown") <= 50)
        .select(key.map(col): _*)
      lands.as("a").join(lands.as("b"), key)
        .where(col("a.media_id") < col("b.media_id"))
        .join(ok, key, "left_semi")
        .groupBy(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 8)
        .orderBy("media_a", "media_b")
    }),

    // 1-bit (sign) binary embedding ANN — the memory-extreme rung of
    // the compression ladder (q231 SQ8 = 1 byte/dim, q84 PQ = sub-byte,
    // this = 1 BIT/dim, 32× smaller than float32): Hamming-ranked
    // top-3 over two packed 32-bit sign halves, with the standard
    // in-pass audit (hit = membership in the exact quantized-cosine
    // top-3). The serving path per candidate is two xor+popcounts —
    // no float, no array.
    "q273_binary_sign_ann" -> ((s, d) =>
      Similarity.binarySignTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", col("vec_id") < 10, 3)
        .orderBy(col("query_id"), col("rank"))),

    // Multi-index-hashing chunk sweep (Norouzi et al. 2012) over the
    // shared 64-bit SimHash table: Hamming ≤ 4 pair retrieval banded by
    // exact match on one of m bandBounds chunks, m ∈ {2,4,5,8}. The
    // pigeonhole theorem is MEASURED, not asserted: recall_ppm = 10⁶
    // exactly for BOTH lossless rows (m=5 — the very banding q48's
    // serving join hard-codes — and m=8), measurably below it for the
    // lossy m ∈ {2,4}, and n_cand prices each extra chunk (m=8's 8-bit
    // keys blow up as N²/2^8 next to the equally lossless m=5 — the
    // measured justification for the family's 5-band choice). The
    // serving-knob curve idiom of q198 (LSH bands) / q267 (IVF
    // nprobe), off the same session signature artifact; the truth leg
    // rides the m=5 banding, the serving path's own keyspace.
    "q274_mih_chunk_sweep" -> ((s, d) =>
      Dedup.simhashChunkSweep(simhashSigs(s, d), 4, Seq(2, 4, 5, 8)))
  )

  // ---------------------------------------------------------------- oracles

  /** Shared normalization + tokenization (mirrors TextAnalysis.normalize/
    * tokens). */
  private[queries] val normSql = "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')"
  private[queries] val tokCte =
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
       |  FROM documents)""".stripMargin

  /** SQL twin of the profile's integer quality score over the `tok` CTE's
    * `t` column (mirrors TextAnalysis quality: uniq-ratio minus stopword
    * penalty, integer percent arithmetic — q41's oracle and the
    * curriculum/budget oracles share it so they cannot drift). */
  private[queries] val stopListSql: String =
    graft.ext.TextAnalysis.langStopwords.flatMap(_._2)
      .map(w => s"'$w'").mkString(", ")
  private[queries] val qualitySql: String =
    s"""CAST(CASE WHEN len(t) > 0
       |    THEN (100 * len(list_distinct(t))) // len(t)
       |         - (50 * len(list_filter(t, x -> x IN ($stopListSql)))) // len(t)
       |    ELSE 0 END AS BIGINT)""".stripMargin

  /** The q68 integer-exact two-pass k-means chain (offset quantization,
    * lowest-id seeds, one ×10-integer-mean Lloyd update): ends at `a1`
    * (pass-1 assignment) and `a2` (final assignment `c2` + distance `d`).
    * Shared by q68 and the SemDeDup oracle (q85) so the two can't drift. */
  private val kmeansCtes =
    """WITH qo AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000) q
      |  FROM embeddings),
      |nx AS (SELECT vec_id, CAST(list_dot_product(q, q) AS BIGINT) n FROM qo),
      |cent AS (SELECT vec_id cid, q cv FROM qo ORDER BY vec_id LIMIT 8),
      |cn AS (SELECT cid, CAST(list_dot_product(cv, cv) AS BIGINT) n FROM cent),
      |d1 AS (SELECT e.vec_id, c.cid,
      |        nx.n - 2 * CAST(list_dot_product(e.q, c.cv) AS BIGINT) + cn.n d
      |      FROM qo e CROSS JOIN cent c
      |      JOIN nx ON e.vec_id = nx.vec_id JOIN cn ON c.cid = cn.cid),
      |a1 AS (SELECT vec_id, cid c1 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
      |    FROM d1) WHERE rn = 1),
      |ex AS (SELECT a1.c1, unnest(e.q) x, generate_subscripts(e.q, 1) i
      |       FROM a1 JOIN qo e USING (vec_id)),
      |sums AS (SELECT c1, i, sum(x) s FROM ex GROUP BY 1, 2),
      |cnts AS (SELECT c1, count(*) c FROM a1 GROUP BY 1),
      |m AS (SELECT c1 cid, list(CAST((10 * s) // c AS BIGINT) ORDER BY i) mv
      |      FROM sums JOIN cnts USING (c1) GROUP BY c1),
      |mn AS (SELECT cid, CAST(list_dot_product(mv, mv) AS BIGINT) n FROM m),
      |d2 AS (SELECT e.vec_id, m.cid,
      |        100 * nx.n - 20 * CAST(list_dot_product(e.q, m.mv) AS BIGINT) + mn.n d
      |      FROM qo e CROSS JOIN m
      |      JOIN nx ON e.vec_id = nx.vec_id JOIN mn ON m.cid = mn.cid),
      |a2 AS (SELECT vec_id, cid c2, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
      |    FROM d2) WHERE rn = 1)""".stripMargin

  /** The q84 PQ chain (subspace split via constant-series cross join,
    * lowest-id seeds, one Lloyd update, encode, query-side ADC LUT):
    * ends at `code` (per-(vec_id, s) codes) and `lut` (per-query codeword
    * distances). Shared by q84 and the IVFADC oracle (q87). */
  private val pqCtes =
    """WITH qo AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000) q
      |  FROM embeddings),
      |sub AS (SELECT vec_id, s, list_slice(q, s * 16 + 1, s * 16 + 16) sq
      |        FROM qo, (SELECT unnest(generate_series(0, 3)) s) g),
      |ns AS (SELECT vec_id, s, CAST(list_dot_product(sq, sq) AS BIGINT) n FROM sub),
      |sd AS (SELECT vec_id FROM qo ORDER BY vec_id LIMIT 8),
      |cb0 AS (SELECT s, vec_id cid, sq cv FROM sub
      |        WHERE vec_id IN (SELECT vec_id FROM sd)),
      |cn0 AS (SELECT s, cid, CAST(list_dot_product(cv, cv) AS BIGINT) n FROM cb0),
      |d1 AS (SELECT e.vec_id, e.s, c.cid,
      |        ns.n - 2 * CAST(list_dot_product(e.sq, c.cv) AS BIGINT) + cn0.n d
      |      FROM sub e JOIN cb0 c ON e.s = c.s
      |      JOIN ns ON e.vec_id = ns.vec_id AND e.s = ns.s
      |      JOIN cn0 ON c.s = cn0.s AND c.cid = cn0.cid),
      |a1 AS (SELECT vec_id, s, cid c1 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) rn
      |    FROM d1) WHERE rn = 1),
      |ex AS (SELECT a1.s, a1.c1, unnest(e.sq) x, generate_subscripts(e.sq, 1) i
      |       FROM a1 JOIN sub e ON a1.vec_id = e.vec_id AND a1.s = e.s),
      |sums AS (SELECT s, c1, i, sum(x) sm FROM ex GROUP BY 1, 2, 3),
      |cnts AS (SELECT s, c1, count(*) c FROM a1 GROUP BY 1, 2),
      |cb1 AS (SELECT s, c1 cid, list(CAST((10 * sm) // c AS BIGINT) ORDER BY i) mv
      |        FROM sums JOIN cnts USING (s, c1) GROUP BY s, c1),
      |cn1 AS (SELECT s, cid, CAST(list_dot_product(mv, mv) AS BIGINT) n FROM cb1),
      |d2 AS (SELECT e.vec_id, e.s, c.cid,
      |        100 * ns.n - 20 * CAST(list_dot_product(e.sq, c.mv) AS BIGINT) + cn1.n d
      |      FROM sub e JOIN cb1 c ON e.s = c.s
      |      JOIN ns ON e.vec_id = ns.vec_id AND e.s = ns.s
      |      JOIN cn1 ON c.s = cn1.s AND c.cid = cn1.cid),
      |code AS (SELECT vec_id, s, cid code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) rn
      |    FROM d2) WHERE rn = 1),
      |lut AS (SELECT vec_id query_id, s, cid code, d FROM d2 WHERE vec_id < 10)""".stripMargin

  /** Distinct word-bigram shingles per doc via zipped unnest. */
  private val shingleCtes =
    s"""$tokCte,
       |u AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
       |shl AS (SELECT doc_id, list(DISTINCT w || ' ' || t[i+1]) sl
       |        FROM u WHERE i < len(t) GROUP BY doc_id)""".stripMargin

  /** CTE chain ending at `lshp(doc_a, doc_b, n_agree)` = the verified
    * MinHash-LSH candidate pair set (bands of 2, >= 4/8 agreeing) —
    * shared by the q23 pair oracle and the q149 recall-audit oracle.
    * Mirrors Dedup.minhashSignatures: hash p = min 8-hex slice p%4 of
    * md5 number p/4 (two md5s -> eight independent 32-bit hashes). */
  private def lshPairCtes: String = {
    val hs = (0 until 8).map(p =>
      s"list_min(list_transform(sl, s -> substr(md5('${p / 4}|' || s), ${(p % 4) * 8 + 1}, 8))) h$p")
      .mkString(",\n    ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc, $b band, h${2 * b} || h${2 * b + 1} bkey FROM sig").mkString("\n  UNION ALL ")
    val agree = (0 until 8).map(p =>
      s"CASE WHEN sa.h$p = sb.h$p THEN 1 ELSE 0 END").mkString(" + ")
    s"""$shingleCtes,
       |sig AS (SELECT doc_id doc,
       |    $hs
       |  FROM shl WHERE len(sl) > 0),
       |bands AS (
       |  $bands),
       |okb AS (SELECT band, bkey FROM bands
       |        GROUP BY 1, 2 HAVING count(*) <= 50),
       |cband AS (SELECT doc, band, bkey FROM bands
       |          JOIN okb USING (band, bkey)),
       |cand AS (SELECT DISTINCT a.doc da, b.doc db
       |         FROM cband a JOIN cband b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc),
       |lshp AS (SELECT da doc_a, db doc_b, CAST($agree AS INT) n_agree
       |         FROM cand JOIN sig sa ON da = sa.doc JOIN sig sb ON db = sb.doc
       |         WHERE $agree >= 4)""".stripMargin
  }

  private def minhashSigSql: String =
    s"""$lshPairCtes
       |SELECT doc_a, doc_b, n_agree FROM lshp
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q198 oracle: re-band the `sig` CTE four ways (band_size 1/2/4/8),
    * score each candidate set against the exact-Jaccard truth. */
  private def lshSweepSql: String = {
    val cfg = Seq(1, 2, 4, 8).map { r =>
      val nb = 8 / r
      val bands = (0 until nb).map(b =>
        s"SELECT doc, $b band, ${(0 until r).map(i => s"h${b * r + i}").mkString(" || ")} bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""bands_$r AS (
         |  $bands),
         |cand_$r AS (SELECT DISTINCT a.doc da, b.doc db
         |            FROM bands_$r a JOIN bands_$r b
         |              ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc),
         |st_$r AS (SELECT $r band_size, $nb n_bands,
         |            CAST(count(*) AS BIGINT) n_cand,
         |            CAST(coalesce(sum(CASE WHEN t.doc_a IS NOT NULL
         |              THEN 1 ELSE 0 END), 0) AS BIGINT) n_tp
         |          FROM cand_$r LEFT JOIN truth t
         |            ON da = t.doc_a AND db = t.doc_b)""".stripMargin
    }.mkString(",\n")
    val un = Seq(1, 2, 4, 8).map(r => s"SELECT * FROM st_$r").mkString(" UNION ALL ")
    s"""$lshPairCtes,
       |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
       |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
       |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
       |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |truth AS (SELECT doc_a, doc_b FROM inter
       |          JOIN cnt ca ON doc_a = ca.doc_id
       |          JOIN cnt cb ON doc_b = cb.doc_id
       |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
       |$cfg,
       |tn AS (SELECT CAST(count(*) AS BIGINT) n_truth FROM truth),
       |sw AS ($un)
       |SELECT band_size, n_bands, n_cand, n_truth, n_tp,
       |  CAST((1000000 * n_tp) // n_truth AS BIGINT) recall_ppm,
       |  CAST((1000000 * n_tp) // nullif(n_cand, 0) AS BIGINT) precision_ppm
       |FROM sw CROSS JOIN tn
       |ORDER BY band_size""".stripMargin
  }

  /** q257 oracle: bucket sizes + pair-grain min shared-bucket size from
    * the same sig/bands CTEs, then the cap sweep as a 6-row caps table
    * theta-joined against the annotated pair set (cap 0 = uncapped). */
  /** q262/q263 oracle: unrolled replay of the 3-round beam walk over
    * the shared knnCtes edge chain — entry at the query cell's min
    * member, per round top-4 beam → edge expansion → NOT-EXISTS dedup
    * → score union; hit flag from the q27-shape brute-force top-10.
    * `edgeSel` supplies the edge set (q262: the raw kNN edges; q263:
    * kNN ∪ the per-vector top-3-cell min-member bridges). */
  private def graphBeamSql: String =
    graphBeamSqlWith("SELECT vec_id, nbr_id FROM r WHERE rank <= 3")

  private def graphBeamBridgedSql: String = graphBeamSqlWith(
    """SELECT DISTINCT vec_id, nbr_id FROM (
      |  SELECT vec_id, nbr_id FROM r WHERE rank <= 3
      |  UNION ALL
      |  SELECT t.vec_id, mm.nbr_id FROM
      |    (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn
      |     FROM asg0) WHERE rn <= 3) t
      |  JOIN (SELECT cid, min(vec_id) nbr_id FROM asg GROUP BY cid) mm
      |    USING (cid)
      |  WHERE mm.nbr_id <> t.vec_id)""".stripMargin)

  private def graphBeamSqlWith(edgeSel: String): String = {
    def scoreSel(cand: String): String =
      s"""SELECT x.query_id, x.vec_id,
         |    CAST(list_dot_product(q1.q, q2.q) AS BIGINT) dot,
         |    CAST(CAST(list_dot_product(q1.q, q2.q) AS BIGINT) AS DOUBLE)
         |      / sqrt(CAST(n1.n AS DOUBLE) * CAST(n2.n AS DOUBLE)) cs
         |  FROM $cand x
         |  JOIN qe q1 ON x.query_id = q1.vec_id
         |  JOIN qe q2 ON x.vec_id = q2.vec_id
         |  JOIN nrm n1 ON x.query_id = n1.vec_id
         |  JOIN nrm n2 ON x.vec_id = n2.vec_id""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""b$i AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cs DESC, vec_id) rn FROM s${i - 1}) WHERE rn <= 4),
         |x$i AS (SELECT DISTINCT b.query_id, edg.nbr_id vec_id
         |       FROM b$i b JOIN edg ON b.vec_id = edg.vec_id
         |       WHERE edg.nbr_id <> b.query_id
         |         AND NOT EXISTS (SELECT 1 FROM s${i - 1} s
         |           WHERE s.query_id = b.query_id AND s.vec_id = edg.nbr_id)),
         |s$i AS (SELECT * FROM s${i - 1} UNION ALL
         |  ${scoreSel(s"x$i")})""".stripMargin
    }.mkString(",\n")
    s"""$knnCtes,
       |edg AS ($edgeSel),
       |qs AS (SELECT vec_id query_id FROM qe WHERE vec_id < 10),
       |ent AS (SELECT qa.vec_id query_id, min(m.vec_id) vec_id
       |        FROM asg qa JOIN qs ON qa.vec_id = qs.query_id
       |        JOIN asg m ON m.cid = qa.cid AND m.vec_id <> qa.vec_id
       |        GROUP BY 1),
       |s0 AS (
       |  ${scoreSel("ent")}),
       |$rounds,
       |fin AS (SELECT query_id, vec_id, dot,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY cs DESC, vec_id) rank
       |        FROM s3),
       |expl AS (SELECT query_id, count(*) n_explored FROM s3 GROUP BY 1),
       |btsc AS (SELECT q.vec_id query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY CAST(CAST(list_dot_product(q.q, c.q) AS BIGINT) AS DOUBLE)
       |        / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
       |      c.vec_id) rank
       |  FROM qe q
       |  JOIN qe c ON c.vec_id <> q.vec_id
       |  JOIN nrm nq ON q.vec_id = nq.vec_id
       |  JOIN nrm nc ON c.vec_id = nc.vec_id
       |  WHERE q.vec_id < 10),
       |bt AS (SELECT query_id, vec_id FROM btsc WHERE rank <= 10)
       |SELECT f.query_id, CAST(f.rank AS INT) AS rank, f.vec_id, f.dot,
       |  CASE WHEN bt.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
       |  CAST(e.n_explored AS BIGINT) AS n_explored
       |FROM fin f JOIN expl e USING (query_id)
       |LEFT JOIN bt ON f.query_id = bt.query_id AND f.vec_id = bt.vec_id
       |WHERE f.rank <= 10 ORDER BY f.query_id, f.rank""".stripMargin
  }

  /** q267 oracle: the q29 probe chain unrolled per nprobe config, cost
    * from the same ranked-cell CTE (cell sizes summed minus the one
    * self row per query), recall against the q27-shape brute top-10. */
  private def ivfNprobeSweepSql: String = {
    val cfg = Seq(1, 2, 4, 8).map { np =>
      s"""pr_$np AS (SELECT query_id, cid FROM qcr WHERE rn <= $np),
         |sc_$np AS (SELECT p.query_id, a.vec_id,
         |    CAST(list_dot_product(qq.q, cq.q) AS BIGINT) dot, nq.n nq, nc.n nc
         |  FROM pr_$np p
         |  JOIN asg a ON p.cid = a.cid AND a.vec_id <> p.query_id
         |  JOIN qe qq ON p.query_id = qq.vec_id
         |  JOIN qe cq ON a.vec_id = cq.vec_id
         |  JOIN nrm nq ON p.query_id = nq.vec_id
         |  JOIN nrm nc ON a.vec_id = nc.vec_id),
         |rk_$np AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |        vec_id) rank
         |    FROM sc_$np) WHERE rank <= 10),
         |st_$np AS (SELECT $np nprobe,
         |    (SELECT CAST(sum(csz) AS BIGINT) FROM pr_$np JOIN csz USING (cid))
         |      - (SELECT count(*) FROM qs) n_scanned,
         |    CAST(count(*) AS BIGINT) n_pred,
         |    CAST(coalesce(sum(CASE WHEN bt.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) n_tp
         |  FROM rk_$np r
         |  LEFT JOIN bt ON r.query_id = bt.query_id AND r.vec_id = bt.vec_id)""".stripMargin
    }.mkString(",\n")
    val un = Seq(1, 2, 4, 8).map(np => s"SELECT * FROM st_$np").mkString(" UNION ALL ")
    s"""$ivfAsgCtes,
       |qs AS (SELECT vec_id query_id FROM qe WHERE vec_id < 10),
       |qcr AS (SELECT vec_id query_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn
       |  FROM asg0 WHERE vec_id < 10),
       |csz AS (SELECT cid, count(*) csz FROM asg GROUP BY cid),
       |btsc AS (SELECT q.vec_id query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY CAST(CAST(list_dot_product(q.q, c.q) AS BIGINT) AS DOUBLE)
       |        / sqrt(CAST(nq.n AS DOUBLE) * CAST(nc.n AS DOUBLE)) DESC,
       |      c.vec_id) rank
       |  FROM qe q
       |  JOIN qe c ON c.vec_id <> q.vec_id
       |  JOIN nrm nq ON q.vec_id = nq.vec_id
       |  JOIN nrm nc ON c.vec_id = nc.vec_id
       |  WHERE q.vec_id < 10),
       |bt AS (SELECT query_id, vec_id FROM btsc WHERE rank <= 10),
       |$cfg,
       |tn AS (SELECT CAST(count(*) AS BIGINT) n_truth FROM bt),
       |sw AS ($un)
       |SELECT nprobe, n_scanned, n_pred, n_truth, n_tp,
       |  CAST((1000000 * n_tp) // n_truth AS BIGINT) recall_ppm
       |FROM sw CROSS JOIN tn ORDER BY nprobe""".stripMargin
  }

  private def lshCapAuditSql: String = {
    val agree = (0 until 8).map(p =>
      s"CASE WHEN sa.h$p = sb.h$p THEN 1 ELSE 0 END").mkString(" + ")
    s"""$lshPairCtes,
       |bcnt AS (SELECT band, bkey, count(*) nown FROM bands GROUP BY 1, 2),
       |bwn AS (SELECT doc, bands.band, bands.bkey, nown
       |        FROM bands JOIN bcnt USING (band, bkey)),
       |pr AS (SELECT a.doc da, b.doc db, min(a.nown) mn
       |       FROM bwn a JOIN bwn b
       |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
       |       GROUP BY 1, 2),
       |ver AS (SELECT da, db, mn,
       |          CASE WHEN $agree >= 4 THEN 1 ELSE 0 END v
       |        FROM pr JOIN sig sa ON da = sa.doc JOIN sig sb ON db = sb.doc),
       |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
       |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
       |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
       |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |truth AS (SELECT doc_a, doc_b FROM inter
       |          JOIN cnt ca ON doc_a = ca.doc_id
       |          JOIN cnt cb ON doc_b = cb.doc_id
       |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
       |vt AS (SELECT da, db, mn, v,
       |         CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE NULL END t
       |       FROM ver LEFT JOIN truth t ON da = t.doc_a AND db = t.doc_b),
       |caps AS (SELECT CAST(unnest([0, 2, 5, 10, 25, 50]) AS BIGINT) cap),
       |per AS (SELECT cap, count(vt.da) n_cand,
       |          coalesce(sum(v), 0) n_pred, coalesce(sum(v * t), 0) n_tp
       |        FROM caps LEFT JOIN vt ON cap = 0 OR mn <= cap
       |        GROUP BY cap),
       |drp AS (SELECT cap, count(bcnt.nown) nbd
       |        FROM caps LEFT JOIN bcnt ON cap > 0 AND nown > cap
       |        GROUP BY cap),
       |base AS (SELECT count(*) u_cand FROM vt),
       |tn AS (SELECT count(*) n_truth FROM truth)
       |SELECT cap, CAST(nbd AS BIGINT) n_buckets_dropped,
       |  CAST(n_cand AS BIGINT) n_cand, CAST(n_pred AS BIGINT) n_pred,
       |  CAST(n_truth AS BIGINT) n_truth, CAST(n_tp AS BIGINT) n_tp,
       |  CAST((1000000 * n_tp) // n_truth AS BIGINT) recall_ppm,
       |  CAST((1000000 * n_cand) // u_cand AS BIGINT) cand_kept_ppm
       |FROM per JOIN drp USING (cap) CROSS JOIN base CROSS JOIN tn
       |ORDER BY cap""".stripMargin
  }

  private def dupFlowSql: String =
    s"""$lshPairCtes,
       |sm AS (SELECT doc_id, source FROM documents),
       |fl AS (SELECT least(a.source, b.source) src_a,
       |         greatest(a.source, b.source) src_b
       |       FROM lshp JOIN sm a ON doc_a = a.doc_id
       |       JOIN sm b ON doc_b = b.doc_id)
       |SELECT src_a, src_b, CAST(count(*) AS BIGINT) n_pairs
       |FROM fl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The simhash-specific tail of [[simhashSigCtes]] (assumes a `tok`
    * CTE is already in scope) — split out so the q183 cascade oracle can
    * append it to a chain that already begins with the LSH-pair CTEs
    * (whose prefix is the same `tok`). */
  private[queries] def simhashSigSuffix: String = {
    // Bit j (1..64, most-significant first) of the md5's first 64 bits:
    // hex digit (j-1)/4+1, mask 8 >> ((j-1)%4) — same bits as the
    // engine's two-chunk integer form in Dedup.simhashSignatures.
    val bits = (1 to 64).map { j =>
      val dd = (j - 1) / 4 + 1
      val mask = 8 >> ((j - 1) % 4)
      s"CASE WHEN list_sum(list_transform(th, h -> CASE WHEN ((strpos('0123456789abcdef', substr(h,$dd,1)) - 1) & $mask) <> 0 THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")
    s"""th AS (SELECT doc_id, list_transform(t, x -> md5(x)) th FROM tok),
       |sh AS (SELECT doc_id, $bits AS simhash FROM th)""".stripMargin
  }

  /** Per-doc simhash CTE shared by the cluster and hamming-pair oracles. */
  private[queries] def simhashSigCtes: String =
    s"""$tokCte,
       |$simhashSigSuffix""".stripMargin

  /** q274 oracle: the sign-bit signature string re-banded long-form —
    * the per-(m, j) chunk positions come from the SAME bandBounds
    * convention as the engine (a VALUES table of (m, j, start, len)),
    * chunk value is substr(simhash, start, len), candidates join on
    * (m, j, value), Hamming verifies per-position, and recall divides
    * by the m = 5 leg (the smallest lossless banding — the serving
    * join's own). DISTINCT replaces the engine's leftmost-chunk filter
    * — same pair set. */
  private def mihSweepSql: String = {
    val hamming = (1 to 64).map(j =>
      s"CASE WHEN substr(sa,$j,1) <> substr(sb,$j,1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    val boundRows = Seq(2, 4, 5, 8).flatMap { m =>
      graft.ext.Dedup.bandBounds(64, m).zipWithIndex.map {
        case ((start, len), j) => s"($m, $j, $start, $len)"
      }
    }.mkString(", ")
    s"""$simhashSigCtes,
       |bnd (m, j, st, ln) AS (SELECT * FROM (VALUES $boundRows)),
       |ck AS (SELECT m, doc_id, simhash, j, substr(simhash, st, ln) v
       |       FROM sh CROSS JOIN bnd),
       |cand AS (SELECT DISTINCT x.m, x.doc_id a, x.simhash sa,
       |           y.doc_id b, y.simhash sb
       |         FROM ck x JOIN ck y
       |           ON x.m = y.m AND x.j = y.j AND x.v = y.v
       |             AND x.doc_id < y.doc_id),
       |cw AS (SELECT m, CASE WHEN CAST($hamming AS INT) <= 4
       |         THEN 1 ELSE 0 END v
       |       FROM cand),
       |ms AS (SELECT DISTINCT m FROM bnd),
       |agg AS (SELECT ms.m n_chunks, count(cw.v) n_cand,
       |          coalesce(sum(cw.v), 0) n_verified
       |        FROM ms LEFT JOIN cw ON cw.m = ms.m GROUP BY 1),
       |tr AS (SELECT n_verified t FROM agg WHERE n_chunks = 5)
       |SELECT CAST(n_chunks AS INT) n_chunks, CAST(n_cand AS BIGINT) n_cand,
       |  CAST(n_verified AS BIGINT) n_verified,
       |  CAST(CASE WHEN t = 0 THEN 1000000
       |       ELSE (1000000 * n_verified) // t END AS BIGINT) recall_ppm
       |FROM agg CROSS JOIN tr ORDER BY n_chunks""".stripMargin
  }

  private def simhashSql: String =
    s"""$simhashSigCtes
       |SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc
       |FROM sh GROUP BY simhash HAVING count(*) > 1
       |ORDER BY simhash""".stripMargin

  /** CTE chain ending in `hp(doc_a, doc_b, hamming)` = the verified
    * Hamming-distance-<=4 pair set (5-band pigeonhole over the 64-bit
    * signature) — shared by the q48 pair oracle and the q54
    * connected-components oracle. */
  private[queries] def simhashHammingCtes: String = {
    val bounds = graft.ext.Dedup.bandBounds(64, 5)
    val bands = bounds.zipWithIndex.map { case ((start, len), b) =>
      s"SELECT doc_id, simhash, $b band, substr(simhash, $start, $len) bkey FROM sh"
    }.mkString("\n  UNION ALL ")
    val hamming = (1 to 64).map(j =>
      s"CASE WHEN substr(sa,$j,1) <> substr(sb,$j,1) THEN 1 ELSE 0 END").mkString(" + ")
    s"""$simhashSigCtes,
       |bands AS (
       |  $bands),
       |cand AS (SELECT DISTINCT a.doc_id da, a.simhash sa, b.doc_id db, b.simhash sb
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |h AS (SELECT da AS doc_a, db AS doc_b, CAST($hamming AS INT) AS hamming FROM cand),
       |hp AS (SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 4)""".stripMargin
  }

  private def simhashHammingSql: String =
    s"""$simhashHammingCtes
       |SELECT doc_a, doc_b, hamming FROM hp
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Quantized embeddings + exact integer norms (mirrors
    * Similarity.quantize/normQ). */
  private[queries] val qeCtes =
    """WITH qe AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) q
      |  FROM embeddings),
      |nrm AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) n
      |        FROM qe)""".stripMargin

  /** The IVF coarse-assignment chain (16 lowest-id centroids, cosine
    * argmax with the ties-toward-lower-cid convention), ending at `asg`
    * (vec_id, cid) with `asg0` kept for probe derivation — THE single
    * statement of the cell-assignment convention, shared by the q29,
    * q63/q93 (via [[knnCtes]]) and q109 oracles so none can drift. */
  private[queries] val ivfAsgCtes =
    s"""$qeCtes,
       |cent AS (SELECT vec_id cid, q cv FROM qe ORDER BY vec_id LIMIT 16),
       |cn AS (SELECT cid, CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) n
       |       FROM cent),
       |asg0 AS (SELECT e.vec_id, c.cid,
       |    CAST(list_dot_product(e.q, c.cv) AS DOUBLE)
       |      / sqrt(CAST(ne.n AS DOUBLE) * CAST(cn.n AS DOUBLE)) ccos
       |  FROM qe e CROSS JOIN cent c
       |  JOIN nrm ne ON e.vec_id = ne.vec_id
       |  JOIN cn ON c.cid = cn.cid),
       |asg AS (SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn
       |    FROM asg0) WHERE rn = 1)""".stripMargin

  /** The q63 cell-local k-NN edge chain (mirrors Similarity.knnGraph,
    * k=3, nlist=16), ending at `r` (vec_id, nbr_id, dot, rank) — shared
    * with the PageRank oracle (q93) so the two graphs can't drift. */
  private[queries] val knnCtes =
    s"""$ivfAsgCtes,
       |sc AS (SELECT a.vec_id, b.vec_id nbr_id,
       |    CAST(list_dot_product(qa.q, qb.q) AS BIGINT) dot, na.n na, nb.n nb
       |  FROM asg a
       |  JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  JOIN qe qa ON a.vec_id = qa.vec_id
       |  JOIN qe qb ON b.vec_id = qb.vec_id
       |  JOIN nrm na ON a.vec_id = na.vec_id
       |  JOIN nrm nb ON b.vec_id = nb.vec_id),
       |r AS (SELECT vec_id, nbr_id, dot,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) DESC,
       |               nbr_id) rank
       |  FROM sc)""".stripMargin

  private def langIdSql: String = {
    val langs = TextAnalysis.langStopwords
    val scores = langs.map { case (l, sw) =>
      val inList = sw.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($inList))) AS INT) s_$l"
    }.mkString(",\n    ")
    val names = langs.map(_._1)
    val detect = names.zipWithIndex.map { case (l, i) =>
      val earlier = names.take(i).map(o => s"s_$l > s_$o")
      val later = names.drop(i + 1).map(o => s"s_$l >= s_$o")
      val conds = (earlier ++ later :+ s"s_$l > 0").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""$tokCte,
       |sc AS (SELECT doc_id, lang,
       |    $scores
       |  FROM tok JOIN documents USING (doc_id))
       |SELECT doc_id, lang,
       |  CASE $detect ELSE 'und' END AS lang_detected,
       |  s_en, s_es, s_de, s_fr
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q22_dedup_exact" ->
      s"""SELECT md5($normSql) AS content_hash, min(doc_id) AS canonical_id,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_dedup_minhash_lsh" -> minhashSigSql,

    // q277 oracle: the shared lshp pair CTEs, per-doc distinct-shingle
    // sizes off the same shl list, exact intersection bounded to the
    // candidate pairs, and the identical integer estimate/clamp.
    "q277_minhash_containment" ->
      s"""$lshPairCtes,
         |cnt AS (SELECT doc_id doc, CAST(len(sl) AS BIGINT) n FROM shl),
         |g2 AS (SELECT doc_id, unnest(sl) s FROM shl),
         |ix AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) i
         |       FROM lshp p
         |       JOIN g2 a ON a.doc_id = p.doc_a
         |       JOIN g2 b ON b.doc_id = p.doc_b AND b.s = a.s
         |       GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b, p.n_agree, ca.n n_a, cb.n n_b,
         |  least(CAST(1000000 AS BIGINT),
         |    CAST((1000000 * CAST(p.n_agree AS BIGINT) * (ca.n + cb.n))
         |      // ((8 + CAST(p.n_agree AS BIGINT)) * least(ca.n, cb.n))
         |      AS BIGINT)) c_min_est_ppm,
         |  CAST((1000000 * COALESCE(ix.i, 0)) // least(ca.n, cb.n)
         |    AS BIGINT) c_min_exact_ppm
         |FROM lshp p
         |JOIN cnt ca ON p.doc_a = ca.doc
         |JOIN cnt cb ON p.doc_b = cb.doc
         |LEFT JOIN ix ON ix.doc_a = p.doc_a AND ix.doc_b = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    "q169_dup_flow" -> dupFlowSql,

    "q170_ivf_balance" ->
      s"""$ivfAsgCtes,
         |cs AS (SELECT cid, CAST(count(*) AS BIGINT) n_vecs FROM asg GROUP BY 1),
         |st AS (SELECT CAST(max(n_vecs) AS BIGINT) mx,
         |         CAST(sum(n_vecs) AS BIGINT) tot,
         |         CAST(count(*) AS BIGINT) nc FROM cs)
         |SELECT cid, n_vecs,
         |  CAST((1000000 * n_vecs) // tot AS BIGINT) share_ppm,
         |  CAST((1000000 * mx * nc) // tot AS BIGINT) imbalance_ppm
         |FROM cs CROSS JOIN st ORDER BY cid""".stripMargin,

    "q24_dedup_ngram_jaccard" ->
      s"""$shingleCtes,
         |sh AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, i AS n_inter, ca.n AS n_a, cb.n AS n_b
         |FROM inter
         |JOIN cnt ca ON doc_a = ca.doc_id
         |JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE 5 * i >= 1 * (ca.n + cb.n - i)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // q222 oracle: same exact-Jaccard bins over the truth chain, raw
    // band candidates (pre-verification), identical fixed-point curve.
    "q222_lsh_s_curve" ->
      s"""$lshPairCtes,
         |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
         |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
         |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b,
         |            CAST((1000 * i) // (ca.n + cb.n - i) AS BIGINT) jm
         |          FROM inter
         |          JOIN cnt ca ON doc_a = ca.doc_id
         |          JOIN cnt cb ON doc_b = cb.doc_id
         |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
         |cd AS (SELECT DISTINCT da, db FROM cand),
         |bi AS (SELECT jm // 50 bin,
         |         CASE WHEN cd.da IS NOT NULL THEN 1 ELSE 0 END c
         |       FROM truth LEFT JOIN cd
         |         ON cd.da = truth.doc_a AND cd.db = truth.doc_b),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) n_pairs,
         |        CAST(sum(c) AS BIGINT) n_collided,
         |        1000 - ((bin * 50 + 25) * (bin * 50 + 25)) // 1000 q
         |      FROM bi GROUP BY 1)
         |SELECT CAST(bin * 50 AS BIGINT) j_bin_milli, n_pairs, n_collided,
         |  CAST((1000000 * n_collided) // n_pairs AS BIGINT) measured_ppm,
         |  CAST(1000000 - (q * q * q * q) // 1000000 AS BIGINT) theo_ppm
         |FROM g ORDER BY j_bin_milli""".stripMargin,

    "q149_lsh_dedup_recall" ->
      s"""$lshPairCtes,
         |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
         |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
         |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM inter
         |          JOIN cnt ca ON doc_a = ca.doc_id
         |          JOIN cnt cb ON doc_b = cb.doc_id
         |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
         |fj AS (SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END t,
         |         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END p
         |       FROM truth t FULL OUTER JOIN lshp p
         |         ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
         |agg2 AS (SELECT CAST(sum(t) AS BIGINT) n_truth,
         |           CAST(sum(p) AS BIGINT) n_pred,
         |           CAST(sum(t * p) AS BIGINT) n_tp FROM fj)
         |SELECT n_truth, n_pred, n_tp,
         |  CAST((1000000 * n_tp) // n_truth AS BIGINT) recall_ppm,
         |  CAST((1000000 * n_tp) // n_pred AS BIGINT) precision_ppm
         |FROM agg2""".stripMargin,

    "q25_dedup_simhash" -> simhashSql,

    "q196_dup_source_attribution" ->
      s"""$lshPairCtes,
         |m AS (SELECT doc_id, source, md5($normSql) ch FROM documents),
         |cl AS (SELECT CASE WHEN a.source = b.source THEN 'intra_source'
         |                   ELSE 'cross_source' END span,
         |              CASE WHEN a.ch = b.ch THEN 'verbatim'
         |                   ELSE 'near' END kind
         |       FROM lshp JOIN m a ON doc_a = a.doc_id
         |       JOIN m b ON doc_b = b.doc_id)
         |SELECT span, kind, CAST(count(*) AS BIGINT) n_pairs
         |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q197_langid_confusion" ->
      s"""SELECT lang, lang_detected, CAST(count(*) AS BIGINT) n_docs
         |FROM ($langIdSql)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q198_lsh_band_sweep" -> lshSweepSql,

    "q257_lsh_cap_audit" -> lshCapAuditSql,

    "q262_graph_ann_beam" -> graphBeamSql,

    "q263_graph_ann_bridged" -> graphBeamBridgedSql,

    "q267_ivf_nprobe_sweep" -> ivfNprobeSweepSql,

    "q265_rank_churn" ->
      s"""$tokCte,
         |ud AS (SELECT DISTINCT doc_id, unnest(t) token FROM tok),
         |dfs AS (SELECT token,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) df_a,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) df_b
         |  FROM ud GROUP BY 1),
         |ta AS (SELECT token, rank_a FROM (
         |    SELECT token, CAST(row_number() OVER (ORDER BY df_a DESC, token)
         |      AS BIGINT) rank_a FROM dfs) WHERE rank_a <= 20),
         |tb AS (SELECT token, rank_b FROM (
         |    SELECT token, CAST(row_number() OVER (ORDER BY df_b DESC, token)
         |      AS BIGINT) rank_b FROM dfs) WHERE rank_b <= 20),
         |j AS (SELECT coalesce(ta.token, tb.token) token,
         |        coalesce(rank_a, 0) rank_a, coalesce(rank_b, 0) rank_b
         |      FROM ta FULL OUTER JOIN tb ON ta.token = tb.token)
         |SELECT token, rank_a, rank_b,
         |  CASE WHEN rank_a > 0 AND rank_b > 0 THEN abs(rank_a - rank_b)
         |       ELSE 0 END AS displacement
         |FROM j ORDER BY token""".stripMargin,

    "q260_bbit_minhash" -> {
      val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
        .map(c => s"'$c'").mkString(", ")
      def b(side: String, p: Int) = s"(substr($side.h$p, 8, 1) IN ($odd))"
      val agreeF = (0 until 8).map(p =>
        s"CASE WHEN sa.h$p = sb.h$p THEN 1 ELSE 0 END").mkString(" + ")
      val agreeB = (0 until 8).map(p =>
        s"CASE WHEN ${b("sa", p)} = ${b("sb", p)} THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$lshPairCtes,
         |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u WHERE i < len(t)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
         |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
         |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truthp AS (SELECT doc_a, doc_b,
         |            CAST((1000 * i) // (ca.n + cb.n - i) AS BIGINT) jm
         |          FROM inter
         |          JOIN cnt ca ON doc_a = ca.doc_id
         |          JOIN cnt cb ON doc_b = cb.doc_id
         |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
         |pe AS (SELECT jm,
         |         CAST(($agreeF) * 125 AS BIGINT) e_full,
         |         CAST(greatest(($agreeB) * 250 - 1000, 0) AS BIGINT) e_bit
         |       FROM truthp
         |       JOIN sig sa ON doc_a = sa.doc JOIN sig sb ON doc_b = sb.doc),
         |ag AS (SELECT CAST(count(*) AS BIGINT) n_pairs,
         |         CAST(sum(abs(e_bit - jm)) AS BIGINT) sae_b,
         |         CAST(sum(e_bit - jm) AS BIGINT) es_b,
         |         CAST(sum(abs(e_full - jm)) AS BIGINT) sae_f,
         |         CAST(sum(e_full - jm) AS BIGINT) es_f
         |       FROM pe)
         |SELECT 'bbit1x8' AS estimator, n_pairs,
         |  CAST(sae_b // n_pairs AS BIGINT) AS mae_milli,
         |  sae_b AS sae_milli, es_b AS err_sum_milli FROM ag
         |UNION ALL
         |SELECT 'minhash8', n_pairs, CAST(sae_f // n_pairs AS BIGINT),
         |  sae_f, es_f FROM ag
         |ORDER BY estimator""".stripMargin
    },

    // q201 oracle: recompute the claim index from the filtered corpus
    // from scratch — comparing it against Spark's incremental repair IS
    // the repair ≡ recompute identity.
    "q201_deletion_repair" ->
      s"""${PipelineQueries.trigramCtes},
         |b AS (SELECT s, min(doc_id) fd FROM g GROUP BY 1),
         |a AS (SELECT s, min(doc_id) fd2 FROM g
         |      WHERE doc_id NOT IN
         |        (SELECT doc_id FROM documents WHERE source = 'src2')
         |      GROUP BY 1),
         |j AS (SELECT b.s, b.fd, a.fd2 FROM b LEFT JOIN a USING (s))
         |SELECT CAST(count(*) AS BIGINT) n_before,
         |  CAST(count(fd2) AS BIGINT) n_after,
         |  CAST(sum(CASE WHEN fd2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_retired,
         |  CAST(sum(CASE WHEN fd2 IS NOT NULL AND fd2 <> fd THEN 1 ELSE 0 END)
         |    AS BIGINT) n_reelected,
         |  CAST(sum(CASE WHEN fd2 = fd THEN 1 ELSE 0 END) AS BIGINT) n_unchanged
         |FROM j""".stripMargin,

    // q214 oracle: components of the FULL pair graph, recomputed from
    // scratch (q54's recursive CTE) — arrival maintenance ≡ recompute.
    "q214_component_arrival" ->
      s"""WITH RECURSIVE ${simhashHammingCtes.stripPrefix("WITH ")},
         |e AS (SELECT doc_a a, doc_b b FROM hp
         |      UNION SELECT doc_b, doc_a FROM hp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT node AS doc_id, min(reach) AS component
         |FROM r GROUP BY node ORDER BY doc_id""".stripMargin,

    // q217 oracle: q54's recursive components, sizes, doc-spine left join.
    "q217_soft_dedup_weights" ->
      s"""WITH RECURSIVE ${simhashHammingCtes.stripPrefix("WITH ")},
         |e AS (SELECT doc_a a, doc_b b FROM hp
         |      UNION SELECT doc_b, doc_a FROM hp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |comp AS (SELECT node AS doc, min(reach) AS comp FROM r GROUP BY node),
         |sz AS (SELECT comp, CAST(count(*) AS BIGINT) sz FROM comp GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(comp.comp, d.doc_id) component,
         |  COALESCE(sz.sz, 1) cluster_size,
         |  CAST(1000000 // COALESCE(sz.sz, 1) AS BIGINT) weight_ppm
         |FROM documents d
         |LEFT JOIN comp ON comp.doc = d.doc_id
         |LEFT JOIN sz USING (comp)
         |ORDER BY d.doc_id""".stripMargin,

    // q219 oracle: same weights, Kish identity and tax arithmetic
    // (HUGEINT intermediates cast back to BIGINT).
    "q219_source_ess" ->
      s"""WITH RECURSIVE ${simhashHammingCtes.stripPrefix("WITH ")},
         |e AS (SELECT doc_a a, doc_b b FROM hp
         |      UNION SELECT doc_b, doc_a FROM hp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |comp AS (SELECT node AS doc, min(reach) AS comp FROM r GROUP BY node),
         |szs AS (SELECT comp, count(*) sz FROM comp GROUP BY 1),
         |w AS (SELECT d.source,
         |        CAST(1000000 // COALESCE(szs.sz, 1) AS BIGINT) w
         |      FROM documents d
         |      LEFT JOIN comp ON comp.doc = d.doc_id
         |      LEFT JOIN szs USING (comp)),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
         |         CAST(sum(w) AS BIGINT) sw, CAST(sum(w * w) AS BIGINT) sw2
         |       FROM w GROUP BY 1),
         |f AS (SELECT source, n_docs, sw, sw2,
         |        CAST((1000 * sw * sw) // sw2 AS BIGINT) ess_milli
         |      FROM st)
         |SELECT source, n_docs, sw, sw2, ess_milli,
         |  CAST(1000000 - (1000 * ess_milli) // n_docs AS BIGINT) dedup_tax_ppm
         |FROM f ORDER BY source""".stripMargin,

    // q218 oracle: same decile formula and stoplist membership.
    "q218_positional_drift" ->
      s"""$tokCte,
         |u AS (SELECT doc_id, unnest(t) token, generate_subscripts(t, 1) pos,
         |        len(t) ntok
         |      FROM tok WHERE len(t) > 0),
         |b AS (SELECT CAST(((pos - 1) * 10) // ntok AS BIGINT) decile, token
         |      FROM u),
         |g AS (SELECT decile, CAST(count(*) AS BIGINT) n_tokens,
         |        CAST(sum(CASE WHEN token IN ($stopListSql) THEN 1 ELSE 0 END)
         |          AS BIGINT) n_stop,
         |        CAST(count(DISTINCT token) AS BIGINT) n_distinct
         |      FROM b GROUP BY 1)
         |SELECT decile, n_tokens, n_stop, n_distinct,
         |  CAST((1000000 * n_stop) // n_tokens AS BIGINT) stop_ppm,
         |  CAST((1000000 * n_distinct) // n_tokens AS BIGINT) ttr_ppm
         |FROM g ORDER BY decile""".stripMargin,

    // q216 oracle: the same cross-multiplied TV fold with closed-form
    // private-token mass.
    "q216_source_tv_matrix" ->
      s"""$tokCte,
         |u AS (SELECT d.source, unnest(t) token
         |      FROM tok JOIN documents d USING (doc_id)),
         |c AS (SELECT source, token, CAST(count(*) AS BIGINT) cnt
         |      FROM u GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) nt FROM c GROUP BY 1),
         |j AS (SELECT a.source sa, b.source sb,
         |        CAST(sum(abs(a.cnt * nb.nt - b.cnt * na.nt)) AS BIGINT) s_both,
         |        CAST(sum(a.cnt) AS BIGINT) ca, CAST(sum(b.cnt) AS BIGINT) cb
         |      FROM c a JOIN c b ON a.token = b.token AND a.source < b.source
         |      JOIN n na ON na.source = a.source
         |      JOIN n nb ON nb.source = b.source
         |      GROUP BY 1, 2),
         |p AS (SELECT x.source sa, y.source sb, x.nt n_tok_a, y.nt n_tok_b
         |      FROM n x JOIN n y ON x.source < y.source),
         |f AS (SELECT p.sa, p.sb, n_tok_a, n_tok_b,
         |        COALESCE(s_both, 0)
         |          + (n_tok_a - COALESCE(ca, 0)) * n_tok_b
         |          + (n_tok_b - COALESCE(cb, 0)) * n_tok_a tv_num
         |      FROM p LEFT JOIN j ON p.sa = j.sa AND p.sb = j.sb)
         |SELECT sa source_a, sb source_b, n_tok_a, n_tok_b,
         |  CAST(tv_num AS BIGINT) tv_num,
         |  CAST((1000000 * tv_num) // (2 * n_tok_a * n_tok_b) AS BIGINT) tv_ppm
         |FROM f ORDER BY source_a, source_b""".stripMargin,

    // q211 oracle: q54's recursive components + q67's quality survivor
    // convention, re-bucketed through identical CASE arithmetic.
    "q211_dedup_savings" ->
      s"""WITH RECURSIVE ${simhashHammingCtes.stripPrefix("WITH ")},
         |e AS (SELECT doc_a a, doc_b b FROM hp
         |      UNION SELECT doc_b, doc_a FROM hp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |comp AS (SELECT node AS doc, min(reach) AS comp FROM r GROUP BY node),
         |tk AS (SELECT doc_id doc, CAST(COALESCE(len(t), 0) AS BIGINT) n_tok,
         |         $qualitySql quality
         |       FROM tok),
         |rk AS (SELECT comp.comp, tk.n_tok,
         |         row_number() OVER (PARTITION BY comp.comp
         |           ORDER BY tk.quality DESC, comp.doc) rn
         |       FROM comp JOIN tk USING (doc)),
         |pc AS (SELECT comp, count(*) sz, sum(n_tok) tok,
         |         sum(CASE WHEN rn >= 2 THEN n_tok ELSE 0 END) tok_removed
         |       FROM rk GROUP BY 1),
         |multi AS (SELECT
         |    CASE WHEN sz = 2 THEN '2' WHEN sz <= 4 THEN '3-4'
         |         WHEN sz <= 8 THEN '5-8' WHEN sz <= 16 THEN '9-16'
         |         ELSE '17+' END size_bucket,
         |    CAST(count(*) AS BIGINT) n_components,
         |    CAST(sum(sz) AS BIGINT) n_docs,
         |    CAST(sum(sz) - count(*) AS BIGINT) n_removed_docs,
         |    CAST(sum(tok) AS BIGINT) tokens_total,
         |    CAST(sum(tok_removed) AS BIGINT) tokens_removed
         |  FROM pc GROUP BY 1),
         |single AS (SELECT '1' size_bucket,
         |    CAST(count(*) AS BIGINT) n_components,
         |    CAST(count(*) AS BIGINT) n_docs, CAST(0 AS BIGINT) n_removed_docs,
         |    CAST(COALESCE(sum(n_tok), 0) AS BIGINT) tokens_total,
         |    CAST(0 AS BIGINT) tokens_removed
         |  FROM tk WHERE doc NOT IN (SELECT doc FROM comp)),
         |u AS (SELECT * FROM multi UNION ALL SELECT * FROM single),
         |ct AS (SELECT CAST(COALESCE(sum(n_tok), 0) AS BIGINT) corpus_tokens
         |       FROM tk)
         |SELECT size_bucket, n_components, n_docs, n_removed_docs,
         |  tokens_total, tokens_removed,
         |  CASE WHEN corpus_tokens > 0
         |       THEN CAST((1000000 * tokens_removed) // corpus_tokens AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END removed_ppm
         |FROM u CROSS JOIN ct ORDER BY size_bucket""".stripMargin,

    // q207 oracle: the same (c1, c2) reduction and value-based cutoffs.
    "q207_vocab_growth" ->
      s"""${PipelineQueries.trigramCtes},
         |mm AS (SELECT min(doc_id) mn, max(doc_id) mx FROM documents),
         |b AS (SELECT d.decile, mn - 1 + ((mx - mn + 1) * d.decile) // 10 cutoff
         |      FROM mm CROSS JOIN (SELECT unnest(range(1, 11)) decile) d),
         |rk AS (SELECT s, doc_id,
         |         row_number() OVER (PARTITION BY s ORDER BY doc_id) rn
         |       FROM g),
         |c12 AS (SELECT s,
         |          min(CASE WHEN rn = 1 THEN doc_id END) c1,
         |          min(CASE WHEN rn = 2 THEN doc_id END) c2
         |        FROM rk WHERE rn <= 2 GROUP BY 1),
         |gs AS (SELECT decile, cutoff,
         |         CAST(sum(CASE WHEN c1 <= cutoff THEN 1 ELSE 0 END) AS BIGINT)
         |           n_grams_cum,
         |         CAST(sum(CASE WHEN c1 <= cutoff
         |             AND (c2 IS NULL OR c2 > cutoff) THEN 1 ELSE 0 END)
         |           AS BIGINT) n_singletons
         |       FROM c12 CROSS JOIN b GROUP BY 1, 2),
         |ps AS (SELECT decile, CAST(count(*) AS BIGINT) n_postings
         |       FROM g CROSS JOIN b WHERE doc_id <= cutoff GROUP BY 1),
         |ds AS (SELECT decile, CAST(count(*) AS BIGINT) n_docs
         |       FROM documents CROSS JOIN b WHERE doc_id <= cutoff GROUP BY 1)
         |SELECT gs.decile, CAST(cutoff AS BIGINT) cutoff,
         |  COALESCE(n_docs, 0) n_docs, n_grams_cum,
         |  n_grams_cum - COALESCE(lag(n_grams_cum)
         |    OVER (ORDER BY gs.decile), 0) n_new_grams,
         |  n_singletons, COALESCE(n_postings, 0) n_postings,
         |  CASE WHEN COALESCE(n_postings, 0) > 0
         |       THEN CAST((1000000 * n_singletons) // n_postings AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END missing_mass_ppm
         |FROM gs LEFT JOIN ps USING (decile) LEFT JOIN ds USING (decile)
         |ORDER BY gs.decile""".stripMargin,

    // q205 oracle: the same one-pass residual fold, re-derived in SQL.
    "q205_source_influence" ->
      s"""${PipelineQueries.trigramCtes},
         |gs AS (SELECT g.s, d.source FROM g JOIN documents d USING (doc_id)),
         |cnt AS (SELECT s, source, count(*) cnt FROM gs GROUP BY 1, 2),
         |dfg AS (SELECT s, CAST(sum(cnt) AS BIGINT) df FROM cnt GROUP BY 1),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |resid AS (SELECT dfg.s, srcs.source,
         |            dfg.df - COALESCE(cnt.cnt, 0) r
         |          FROM dfg CROSS JOIN srcs
         |          LEFT JOIN cnt ON cnt.s = dfg.s AND cnt.source = srcs.source),
         |per AS (SELECT source, CAST(sum(r) AS BIGINT) n_postings_wo,
         |          CAST(sum(CASE WHEN r >= 2 THEN r ELSE 0 END) AS BIGINT)
         |            n_dup_wo
         |        FROM resid GROUP BY 1),
         |fl AS (SELECT CAST(sum(df) AS BIGINT) n_postings,
         |         CAST(sum(CASE WHEN df >= 2 THEN df ELSE 0 END) AS BIGINT)
         |           n_dup
         |       FROM dfg)
         |SELECT source, n_postings_wo, n_dup_wo,
         |  CAST((1000000 * n_dup_wo) // n_postings_wo AS BIGINT) dup_ppm_wo,
         |  CAST((1000000 * n_dup) // n_postings AS BIGINT)
         |    - CAST((1000000 * n_dup_wo) // n_postings_wo AS BIGINT)
         |    influence_ppm
         |FROM per CROSS JOIN fl ORDER BY source""".stripMargin,

    // q203 oracle: components of the FILTERED corpus's pair graph,
    // recomputed from scratch (q54's recursive CTE over hp minus
    // tombstone-touching edges — valid because signatures are per-doc
    // properties, so deleting docs only removes edges, never adds).
    "q203_component_repair" ->
      s"""WITH RECURSIVE ${simhashHammingCtes.stripPrefix("WITH ")},
         |tmb AS (SELECT doc_id FROM documents WHERE source = 'src2'),
         |hp2 AS (SELECT doc_a, doc_b FROM hp
         |        WHERE doc_a NOT IN (SELECT doc_id FROM tmb)
         |          AND doc_b NOT IN (SELECT doc_id FROM tmb)),
         |e AS (SELECT doc_a a, doc_b b FROM hp2
         |      UNION SELECT doc_b, doc_a FROM hp2),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a)
         |SELECT node AS doc_id, min(reach) AS component
         |FROM r GROUP BY node ORDER BY doc_id""".stripMargin,

    // q202 oracle: prefix selection re-derived in SQL; the final pair
    // count comes from the FULL unpruned join, so a candidate the
    // prefix rule wrongly dropped would show up as an n_pairs mismatch.
    "q202_prefix_filter_join" ->
      s"""$shingleCtes,
         |sh AS (SELECT DISTINCT doc_id doc, w || ' ' || t[i+1] s
         |       FROM u WHERE i < len(t)),
         |dfq AS (SELECT s, count(*) df FROM sh GROUP BY 1),
         |cnt AS (SELECT doc, count(*) n FROM sh GROUP BY 1),
         |pos AS (SELECT sh.doc, sh.s,
         |          row_number() OVER (PARTITION BY sh.doc
         |                             ORDER BY dfq.df, sh.s) i,
         |          cnt.n
         |        FROM sh JOIN dfq USING (s) JOIN cnt USING (doc)),
         |pre AS (SELECT doc, s, n FROM pos
         |        WHERE i <= n - ((4 * n + 4) // 5) + 1),
         |pdfq AS (SELECT s, count(*) pdf FROM pre GROUP BY 1),
         |cand AS (SELECT DISTINCT a.doc da, b.doc db FROM pre a
         |         JOIN pre b ON a.s = b.s AND a.doc < b.doc
         |           AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
         |intr AS (SELECT a.doc da, b.doc db, count(*) i FROM sh a
         |         JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),
         |fin AS (SELECT intr.da FROM intr
         |        JOIN cnt ca ON intr.da = ca.doc
         |        JOIN cnt cb ON intr.db = cb.doc
         |        WHERE 5 * intr.i >= 4 * (ca.n + cb.n - intr.i)),
         |cf AS (SELECT CAST(sum(df * (df - 1) // 2) AS BIGINT) c
         |       FROM dfq),
         |cp AS (SELECT CAST(COALESCE(sum(pdf * (pdf - 1) // 2), 0) AS BIGINT) c
         |       FROM pdfq)
         |SELECT (SELECT c FROM cf) n_collisions_full,
         |  (SELECT c FROM cp) n_collisions_prefix,
         |  CAST((SELECT count(*) FROM cand) AS BIGINT) n_prefix_candidates,
         |  CAST((SELECT count(*) FROM fin) AS BIGINT) n_pairs,
         |  CAST((1000000 * ((SELECT c FROM cf) - (SELECT c FROM cp)))
         |    // (SELECT c FROM cf) AS BIGINT) pruned_ppm""".stripMargin,

    // q228 oracle: the q202 chain with the positional predicate added;
    // n_pairs stays the FULL unpruned join's count, so a true pair the
    // positional filter wrongly dropped surfaces as a mismatch against
    // the Spark side's verify-from-positional-candidates count.
    "q228_ppjoin_positional" ->
      s"""$shingleCtes,
         |sh AS (SELECT DISTINCT doc_id doc, w || ' ' || t[i+1] s
         |       FROM u WHERE i < len(t)),
         |dfq AS (SELECT s, count(*) df FROM sh GROUP BY 1),
         |cnt AS (SELECT doc, count(*) n FROM sh GROUP BY 1),
         |pos AS (SELECT sh.doc, sh.s,
         |          row_number() OVER (PARTITION BY sh.doc
         |                             ORDER BY dfq.df, sh.s) i,
         |          cnt.n
         |        FROM sh JOIN dfq USING (s) JOIN cnt USING (doc)),
         |pre AS (SELECT doc, s, n, i FROM pos
         |        WHERE i <= n - ((4 * n + 4) // 5) + 1),
         |coll AS (SELECT a.doc da, b.doc db,
         |           CASE WHEN 9 * (1 + least(a.n - a.i, b.n - b.i))
         |                     >= 4 * (a.n + b.n) THEN 1 ELSE 0 END pos_ok
         |         FROM pre a JOIN pre b ON a.s = b.s AND a.doc < b.doc
         |           AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
         |cand AS (SELECT DISTINCT da, db FROM coll),
         |cpos AS (SELECT DISTINCT da, db FROM coll WHERE pos_ok = 1),
         |intr AS (SELECT a.doc da, b.doc db, count(*) i FROM sh a
         |         JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),
         |fin AS (SELECT intr.da FROM intr
         |        JOIN cnt ca ON intr.da = ca.doc
         |        JOIN cnt cb ON intr.db = cb.doc
         |        WHERE 5 * intr.i >= 4 * (ca.n + cb.n - intr.i))
         |SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) n_prefix_candidates,
         |  CAST((SELECT count(*) FROM cpos) AS BIGINT) n_positional_candidates,
         |  CAST((SELECT count(*) FROM fin) AS BIGINT) n_pairs,
         |  CAST((1000000 * ((SELECT count(*) FROM cand)
         |    - (SELECT count(*) FROM cpos)))
         |    // (SELECT count(*) FROM cand) AS BIGINT) positional_pruned_ppm""".stripMargin,

    "q199_filter_venn" ->
      s"""$tokCte,
         |u AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |g AS (SELECT doc_id, w || ' ' || t[i+1] g FROM u WHERE i < len(t)),
         |bc AS (SELECT doc_id, g, count(*) c FROM g GROUP BY 1, 2),
         |rep AS (SELECT doc_id,
         |          CAST((1000000 * (sum(c) - count(*))) // sum(c) AS BIGINT) dup_ppm
         |        FROM bc GROUP BY doc_id),
         |q AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_tokens,
         |        $qualitySql quality FROM tok),
         |li AS (SELECT doc_id, lang, lang_detected FROM ($langIdSql)),
         |f AS (SELECT q.doc_id,
         |        CASE WHEN quality < 33 THEN 1 ELSE 0 END f_quality,
         |        CASE WHEN coalesce(dup_ppm, 0) > 65000 THEN 1 ELSE 0 END f_repetition,
         |        CASE WHEN lang_detected <> lang THEN 1 ELSE 0 END f_lang,
         |        n_tokens
         |      FROM q JOIN li USING (doc_id) LEFT JOIN rep USING (doc_id))
         |SELECT f_quality, f_repetition, f_lang,
         |  CAST(count(*) AS BIGINT) n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) n_tokens
         |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q194_simhash_dedup_audit" ->
      s"""$simhashHammingCtes,
         |u2 AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |sh2 AS (SELECT DISTINCT doc_id, w || ' ' || t[i+1] s FROM u2 WHERE i < len(t)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh2 GROUP BY doc_id),
         |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) i
         |          FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM inter
         |          JOIN cnt ca ON doc_a = ca.doc_id
         |          JOIN cnt cb ON doc_b = cb.doc_id
         |          WHERE 5 * i >= 1 * (ca.n + cb.n - i)),
         |fj AS (SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END t,
         |         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END p
         |       FROM truth t FULL OUTER JOIN hp p
         |         ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
         |agg2 AS (SELECT CAST(sum(t) AS BIGINT) n_truth,
         |           CAST(sum(p) AS BIGINT) n_pred,
         |           CAST(sum(t * p) AS BIGINT) n_tp FROM fj)
         |SELECT n_truth, n_pred, n_tp,
         |  CAST((1000000 * n_tp) // n_truth AS BIGINT) recall_ppm,
         |  CAST((1000000 * n_tp) // n_pred AS BIGINT) precision_ppm
         |FROM agg2""".stripMargin,

    "q188_centroid_drift" ->
      s"""$qeCtes,
         |nn2 AS (SELECT label, CAST(count(*) AS BIGINT) n FROM qe GROUP BY 1),
         |pd AS (SELECT label, generate_subscripts(q, 1) pos, unnest(q) x FROM qe),
         |sx AS (SELECT label, pos, CAST(sum(x) AS BIGINT) sx FROM pd GROUP BY 1, 2),
         |cent AS (SELECT label, pos,
         |    CAST(floor(CAST(1000 AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) c
         |  FROM sx JOIN nn2 USING (label)),
         |pr AS (SELECT a.label label_a, b.label label_b, a.c ca, b.c cb
         |       FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label),
         |d2 AS (SELECT label_a, label_b, CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) dist2
         |       FROM pr GROUP BY 1, 2)
         |SELECT label_a, label_b, na.n n_a, nb.n n_b, dist2
         |FROM d2 JOIN nn2 na ON label_a = na.label JOIN nn2 nb ON label_b = nb.label
         |ORDER BY label_a, label_b""".stripMargin,

    "q184_gram_novelty" ->
      s"""${PipelineQueries.trigramCtes},
         |fd AS (SELECT s, min(doc_id) first_doc FROM g GROUP BY 1),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_grams,
         |        CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) n_novel
         |      FROM g JOIN fd USING (s) GROUP BY 1)
         |SELECT doc_id, n_grams, n_novel,
         |  CAST((1000000 * n_novel) // n_grams AS BIGINT) AS novelty_ppm
         |FROM a ORDER BY doc_id""".stripMargin,

    "q186_source_exclusivity" ->
      s"""${PipelineQueries.trigramCtes},
         |sm AS (SELECT doc_id, source FROM documents),
         |ss AS (SELECT DISTINCT source, s FROM g JOIN sm USING (doc_id)),
         |gs AS (SELECT s, count(*) n_src FROM ss GROUP BY 1),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) n_grams,
         |        CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) n_exclusive
         |      FROM ss JOIN gs USING (s) GROUP BY 1)
         |SELECT source, n_grams, n_exclusive,
         |  CAST((1000000 * n_exclusive) // n_grams AS BIGINT) AS exclusive_ppm
         |FROM a ORDER BY source""".stripMargin,

    "q185_vocab_growth" ->
      s"""$tokCte,
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |fd AS (SELECT token, min(doc_id) first_doc FROM p GROUP BY 1),
         |mx AS (SELECT max(doc_id) mx FROM documents),
         |b AS (SELECT (10 * first_doc) // (mx + 1) bucket,
         |        CAST(count(*) AS BIGINT) n_new_terms
         |      FROM fd CROSS JOIN mx GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_new_terms,
         |  CAST(sum(n_new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_terms
         |FROM b ORDER BY bucket""".stripMargin,

    "q48_simhash_hamming" -> simhashHammingSql,

    // Cascade attribution: the lshp chain already starts from the same
    // tok CTE the simhash suffix needs, so the two stages share one
    // tokenization. Stage predicates mirror the Spark plan exactly
    // (window-min for exact and simhash, survivor-gated pair probe for
    // minhash).
    "q183_dedup_cascade" ->
      s"""$lshPairCtes,
         |$simhashSigSuffix,
         |tc AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_tokens FROM tok),
         |eh AS (SELECT doc_id, md5($normSql) ch FROM documents),
         |ex AS (SELECT doc_id,
         |         CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY ch)
         |              THEN 1 ELSE 0 END exact_rm
         |       FROM eh),
         |s1 AS (SELECT doc_id FROM ex WHERE exact_rm = 0),
         |lr AS (SELECT DISTINCT doc_b doc_id FROM lshp
         |       WHERE doc_a IN (SELECT doc_id FROM s1)
         |         AND doc_b IN (SELECT doc_id FROM s1)),
         |s2 AS (SELECT doc_id FROM s1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM lr)),
         |sr AS (SELECT doc_id FROM (
         |    SELECT s2.doc_id,
         |      CASE WHEN s2.doc_id > min(s2.doc_id) OVER (PARTITION BY sh.simhash)
         |           THEN 1 ELSE 0 END rm
         |    FROM s2 JOIN sh ON s2.doc_id = sh.doc_id) WHERE rm = 1),
         |st AS (SELECT ex.doc_id, tc.n_tokens,
         |    CASE WHEN ex.exact_rm = 1 THEN '1_exact'
         |         WHEN ex.doc_id IN (SELECT doc_id FROM lr) THEN '2_minhash'
         |         WHEN ex.doc_id IN (SELECT doc_id FROM sr) THEN '3_simhash'
         |         ELSE '4_kept' END stage
         |  FROM ex JOIN tc ON ex.doc_id = tc.doc_id)
         |SELECT stage, CAST(count(*) AS BIGINT) n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) n_tokens
         |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    "q132_shared_spans" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) s
         |      WHERE len(t) >= 10),
         |rare AS (SELECT h FROM w GROUP BY h HAVING count(*) <= 50),
         |wf AS (SELECT w.* FROM w JOIN rare USING (h)),
         |p AS (SELECT x.doc_id a, y.doc_id b, x.i pa, y.i pb, x.i - y.i diag
         |      FROM wf x JOIN wf y ON x.h = y.h AND x.doc_id < y.doc_id),
         |g AS (SELECT a, b, diag, pa, pb,
         |        pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) grp
         |      FROM p)
         |SELECT a, b, min(pa) AS a_pos, min(pb) AS b_pos,
         |  count(*) + 9 AS span_tokens
         |FROM g GROUP BY a, b, diag, grp
         |HAVING count(*) + 9 >= 15
         |ORDER BY a, b, a_pos, b_pos""".stripMargin,

    // q224/q225 oracle chain: 4-token gram hashes (the q132 md5-prefix
    // discipline), packed key h32*2^20 + (2^20-1-i), one trailing-window
    // min = the rightmost-min winnow rule, DISTINCT selections.
    "q224_winnowing_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS i) s
         |      WHERE len(t) >= 4),
         |m AS (SELECT doc_id, i,
         |        min((h % 2147483648) * 1048576 + (1048575 - i))
         |          OVER (PARTITION BY doc_id ORDER BY i
         |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) wmin
         |      FROM w),
         |fp AS (SELECT DISTINCT doc_id, 1048575 - (wmin % 1048576) pos,
         |         wmin // 1048576 fph
         |       FROM m WHERE i >= 8),
         |fpd AS (SELECT DISTINCT doc_id, fph FROM fp),
         |rare AS (SELECT fph FROM fpd GROUP BY fph HAVING count(*) <= 50),
         |f2 AS (SELECT fpd.* FROM fpd JOIN rare USING (fph)),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_fp FROM f2 GROUP BY 1),
         |p AS (SELECT x.doc_id a, y.doc_id b, CAST(count(*) AS BIGINT) n_shared
         |      FROM f2 x JOIN f2 y ON x.fph = y.fph AND x.doc_id < y.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT a doc_a, b doc_b, n_shared, ca.n_fp n_a, cb.n_fp n_b
         |FROM p JOIN cnt ca ON ca.doc_id = p.a
         |  JOIN cnt cb ON cb.doc_id = p.b
         |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin,

    "q225_winnow_density" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS i) s
         |      WHERE len(t) >= 4),
         |m AS (SELECT doc_id, i,
         |        min((h % 2147483648) * 1048576 + (1048575 - i))
         |          OVER (PARTITION BY doc_id ORDER BY i
         |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) wmin
         |      FROM w),
         |fp AS (SELECT DISTINCT doc_id, 1048575 - (wmin % 1048576) pos,
         |         wmin // 1048576 fph
         |       FROM m WHERE i >= 8),
         |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) ntok FROM tok),
         |den AS (SELECT d.source,
         |          CAST(sum(greatest(ntok - 3, 0)) AS BIGINT) n_grams,
         |          CAST(sum(greatest(ntok - 10, 0)) AS BIGINT) n_windows
         |        FROM nt JOIN documents d USING (doc_id) GROUP BY 1),
         |num AS (SELECT d.source, CAST(count(*) AS BIGINT) n_fp
         |        FROM fp JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT source, n_grams, n_windows, n_fp,
         |  CAST((1000000 * n_fp) // n_grams AS BIGINT) density_ppm,
         |  CAST(222222 AS BIGINT) theo_density_ppm
         |FROM den JOIN num USING (source) ORDER BY source""".stripMargin,

    // q221 oracle: the q132 span chain, both occurrence sides unnested
    // into host-doc deciles against the q218 decile token mass.
    "q221_span_position_profile" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) s
         |      WHERE len(t) >= 10),
         |rare AS (SELECT h FROM w GROUP BY h HAVING count(*) <= 50),
         |wf AS (SELECT w.* FROM w JOIN rare USING (h)),
         |p AS (SELECT x.doc_id a, y.doc_id b, x.i pa, y.i pb, x.i - y.i diag
         |      FROM wf x JOIN wf y ON x.h = y.h AND x.doc_id < y.doc_id),
         |g AS (SELECT a, b, diag, pa, pb,
         |        pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) grp
         |      FROM p),
         |sp AS (SELECT a, b, min(pa) a_pos, min(pb) b_pos,
         |         count(*) + 9 span_tokens
         |       FROM g GROUP BY a, b, diag, grp
         |       HAVING count(*) + 9 >= 15),
         |occ AS (SELECT a doc, a_pos pos, span_tokens FROM sp
         |        UNION ALL SELECT b, b_pos, span_tokens FROM sp),
         |nt AS (SELECT doc_id doc, CAST(len(t) AS BIGINT) ntok FROM tok
         |       WHERE len(t) > 0),
         |ti AS (SELECT doc_id, generate_subscripts(t, 1) i FROM tok),
         |dt AS (SELECT CAST(((ti.i - 1) * 10) // ntok AS BIGINT) decile,
         |         CAST(count(*) AS BIGINT) n_decile_tokens
         |       FROM ti JOIN nt ON nt.doc = ti.doc_id
         |       GROUP BY 1),
         |ds AS (SELECT CAST(((pos - 1) * 10) // ntok AS BIGINT) decile,
         |         CAST(count(*) AS BIGINT) n_spans,
         |         CAST(sum(span_tokens) AS BIGINT) dup_tokens
         |       FROM occ JOIN nt USING (doc) GROUP BY 1)
         |SELECT dt.decile, COALESCE(n_spans, 0) n_spans,
         |  COALESCE(dup_tokens, 0) dup_tokens, n_decile_tokens,
         |  CAST((1000000 * COALESCE(dup_tokens, 0)) // n_decile_tokens
         |    AS BIGINT) dup_share_ppm
         |FROM dt LEFT JOIN ds USING (decile) ORDER BY dt.decile""".stripMargin,

    "q136_span_families" ->
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) s
         |      WHERE len(t) >= 10),
         |rare AS (SELECT h FROM w GROUP BY h HAVING count(*) <= 50),
         |wf AS (SELECT w.* FROM w JOIN rare USING (h)),
         |p AS (SELECT x.doc_id a, y.doc_id b, x.i pa, y.i pb, x.i - y.i diag
         |      FROM wf x JOIN wf y ON x.h = y.h AND x.doc_id < y.doc_id),
         |g AS (SELECT a, b, diag, pa,
         |        pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) grp
         |      FROM p),
         |sp AS (SELECT a, b FROM g GROUP BY a, b, diag, grp
         |       HAVING count(*) + 9 >= 15),
         |e AS (SELECT DISTINCT a, b FROM sp UNION SELECT DISTINCT b, a FROM sp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |c AS (SELECT node AS doc_id, min(reach) AS family FROM r GROUP BY node)
         |SELECT doc_id, family,
         |  count(*) OVER (PARTITION BY family) AS n_members
         |FROM c ORDER BY doc_id""".stripMargin,

    "q138_chunk_span_families" ->
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT h,
         |        (i - 1) // 64 chunk
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) s
         |      WHERE len(t) >= 10),
         |wc AS (SELECT doc_id, i - chunk * 64 cpos, h, chunk FROM w
         |       WHERE (i + 8) // 64 = chunk),
         |rare AS (SELECT h FROM wc GROUP BY h HAVING count(*) <= 50),
         |wf AS (SELECT wc.* FROM wc JOIN rare USING (h)),
         |p AS (SELECT x.doc_id a, x.chunk ac, y.doc_id b, y.chunk bc,
         |        x.cpos pa, y.cpos pb, x.cpos - y.cpos diag
         |      FROM wf x JOIN wf y ON x.h = y.h
         |        AND (x.doc_id < y.doc_id
         |          OR (x.doc_id = y.doc_id AND x.chunk < y.chunk))),
         |g AS (SELECT a, ac, b, bc, diag, pa,
         |        pa - row_number() OVER (
         |          PARTITION BY a, ac, b, bc, diag ORDER BY pa) grp
         |      FROM p),
         |sp AS (SELECT a * 1000000 + ac ua, b * 1000000 + bc ub
         |       FROM g GROUP BY a, ac, b, bc, diag, grp
         |       HAVING count(*) + 9 >= 15),
         |e AS (SELECT DISTINCT ua a, ub b FROM sp
         |      UNION SELECT DISTINCT ub, ua FROM sp),
         |r AS (SELECT a AS node, a AS reach FROM e
         |      UNION
         |      SELECT r.node, e.b FROM r JOIN e ON r.reach = e.a),
         |c AS (SELECT node, min(reach) AS family FROM r GROUP BY node)
         |SELECT node // 1000000 AS doc_id, node % 1000000 AS chunk_idx,
         |  family, count(*) OVER (PARTITION BY family) AS n_members
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q134_span_rewrite" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '), x -> len(x) > 0) t
         |  FROM documents),
         |w AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15))::BIGINT h
         |      FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 9)) AS i) s
         |      WHERE len(t) >= 10),
         |rare AS (SELECT h FROM w GROUP BY h HAVING count(*) <= 50),
         |wf AS (SELECT w.* FROM w JOIN rare USING (h)),
         |p AS (SELECT x.doc_id a, y.doc_id b, x.i pa, y.i pb, x.i - y.i diag
         |      FROM wf x JOIN wf y ON x.h = y.h AND x.doc_id < y.doc_id),
         |g AS (SELECT a, b, diag, pa, pb,
         |        pa - row_number() OVER (PARTITION BY a, b, diag ORDER BY pa) grp
         |      FROM p),
         |sp AS (SELECT b, min(pb) b_pos, count(*) + 9 span_tokens
         |       FROM g GROUP BY a, b, diag, grp HAVING count(*) + 9 >= 15),
         |ex AS (SELECT DISTINCT doc_id, pos FROM (
         |        SELECT b doc_id, unnest(generate_series(b_pos, b_pos + span_tokens - 1)) pos
         |        FROM sp) u),
         |tp AS (SELECT doc_id, i pos, t[i] tok
         |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
         |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
         |         WHERE NOT EXISTS (SELECT 1 FROM ex
         |           WHERE ex.doc_id = tp.doc_id AND ex.pos = tp.pos)),
         |agg AS (SELECT doc_id, count(*) n_after,
         |          string_agg(tok, ' ' ORDER BY pos) text_dedup
         |        FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(t.t) AS INT) AS n_before,
         |  CAST(coalesce(agg.n_after, 0) AS BIGINT) AS n_after,
         |  coalesce(agg.text_dedup, '') AS text_dedup
         |FROM documents d JOIN tok t USING (doc_id) LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q26_embed_neardup" ->
      s"""$qeCtes,
         |pr AS (SELECT a.vec_id va, b.vec_id vb,
         |         CAST(list_dot_product(a.q, b.q) AS BIGINT) dot
         |       FROM qe a JOIN qe b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT va AS vec_a, vb AS vec_b, dot
         |FROM pr JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 100 >= 9 * CAST(na.n AS HUGEINT) * nb.n
         |ORDER BY vec_a, vec_b""".stripMargin,

    "q27_ann_brute_topk" ->
      s"""$qeCtes,
         |sc AS (SELECT q.vec_id query_id, c.vec_id vec_id,
         |         CAST(list_dot_product(q.q, c.q) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM qe q
         |       JOIN qe c ON c.vec_id <> q.vec_id
         |       JOIN nrm nq ON q.vec_id = nq.vec_id
         |       JOIN nrm nc ON c.vec_id = nc.vec_id
         |       WHERE q.vec_id < 10),
         |r AS (SELECT query_id, vec_id, dot,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                   vec_id) rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q147_mmr_rerank" ->
      s"""WITH RECURSIVE ${qeCtes.stripPrefix("WITH ")},
         |qv AS (SELECT q, n FROM qe JOIN nrm USING (vec_id) WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id,
         |    CAST(floor(1000000 * CAST(list_dot_product(e.q, qv.q) AS DOUBLE)
         |      / sqrt(CAST(ne.n AS DOUBLE) * CAST(qv.n AS DOUBLE))) AS BIGINT) rel_q
         |  FROM qe e JOIN nrm ne USING (vec_id) CROSS JOIN qv
         |  WHERE e.vec_id <> 0
         |  ORDER BY rel_q DESC, e.vec_id LIMIT 20),
         |sim AS (
         |  SELECT a.vec_id va, b.vec_id vb,
         |    CAST(floor(1000000 * CAST(list_dot_product(ea.q, eb.q) AS DOUBLE)
         |      / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE))) AS BIGINT) sim_q
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
         |  JOIN qe ea ON ea.vec_id = a.vec_id JOIN qe eb ON eb.vec_id = b.vec_id
         |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id),
         |mmr AS (
         |  SELECT 1 AS rank,
         |    (SELECT vec_id FROM cand ORDER BY rel_q DESC, vec_id LIMIT 1) AS picked,
         |    [(SELECT vec_id FROM cand ORDER BY rel_q DESC, vec_id LIMIT 1)] AS sel
         |  UNION ALL
         |  SELECT rank + 1,
         |    (SELECT c.vec_id FROM cand c
         |     WHERE NOT list_contains(sel, c.vec_id)
         |     ORDER BY 7 * c.rel_q - 3 * (SELECT max(s.sim_q) FROM sim s
         |       WHERE s.va = c.vec_id AND list_contains(sel, s.vb)) DESC, c.vec_id
         |     LIMIT 1),
         |    list_append(sel, (SELECT c.vec_id FROM cand c
         |     WHERE NOT list_contains(sel, c.vec_id)
         |     ORDER BY 7 * c.rel_q - 3 * (SELECT max(s.sim_q) FROM sim s
         |       WHERE s.va = c.vec_id AND list_contains(sel, s.vb)) DESC, c.vec_id
         |     LIMIT 1))
         |  FROM mmr WHERE rank < 8)
         |SELECT CAST(rank AS INT) rank, CAST(picked AS BIGINT) vec_id,
         |  (SELECT rel_q FROM cand WHERE vec_id = picked) rel_q
         |FROM mmr ORDER BY rank""".stripMargin,

    "q28_ann_lsh_topk" ->
      s"""$qeCtes,
         |wt AS (SELECT p.p, i.i,
         |         CASE WHEN substr(md5(p.p || '_' || i.i), 1, 1) >= '8' THEN 1 ELSE -1 END w
         |       FROM generate_series(0, 7) p(p), generate_series(0, 63) i(i)),
         |qv AS (SELECT vec_id, unnest(q) x, generate_subscripts(q, 1) - 1 i FROM qe),
         |proj AS (SELECT vec_id, p, sum(x * w) s
         |         FROM qv JOIN wt ON qv.i = wt.i GROUP BY 1, 2),
         |bk AS (SELECT vec_id,
         |         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) bucket
         |       FROM proj GROUP BY vec_id),
         |sc AS (SELECT q.vec_id query_id, c.vec_id vec_id,
         |         CAST(list_dot_product(qq.q, cq.q) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM bk q
         |       JOIN bk c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |       JOIN qe qq ON q.vec_id = qq.vec_id
         |       JOIN qe cq ON c.vec_id = cq.vec_id
         |       JOIN nrm nq ON q.vec_id = nq.vec_id
         |       JOIN nrm nc ON c.vec_id = nc.vec_id
         |       WHERE q.vec_id < 10),
         |r AS (SELECT query_id, vec_id, dot,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                   vec_id) rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q29_ann_ivf_topk" ->
      s"""$ivfAsgCtes,
         |probes AS (SELECT vec_id query_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn
         |    FROM asg0 WHERE vec_id < 10) WHERE rn <= 2),
         |sc AS (SELECT p.query_id, a.vec_id,
         |    CAST(list_dot_product(qq.q, cq.q) AS BIGINT) dot, nq.n nq, nc.n nc
         |  FROM probes p
         |  JOIN asg a ON p.cid = a.cid AND a.vec_id <> p.query_id
         |  JOIN qe qq ON p.query_id = qq.vec_id
         |  JOIN qe cq ON a.vec_id = cq.vec_id
         |  JOIN nrm nq ON p.query_id = nq.vec_id
         |  JOIN nrm nc ON a.vec_id = nc.vec_id),
         |r AS (SELECT query_id, vec_id, dot,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |               vec_id) rank
         |  FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q63_knn_graph" ->
      s"""$knnCtes
         |SELECT vec_id, CAST(rank AS INT) AS rank, nbr_id, dot
         |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    "q68_kmeans_embed" ->
      s"""$kmeansCtes
         |SELECT a1.vec_id, a1.c1, a2.c2, a2.d AS d2
         |FROM a1 JOIN a2 USING (vec_id) ORDER BY vec_id""".stripMargin,

    // SemDeDup: the q68 k-means chain, then within-cluster earlier-id
    // domination at cosine >= 3/10 (HUGEINT cross-multiplication — the
    // DuckDB exact twin of Spark's DECIMAL(38,0)).
    "q85_semdedup" ->
      s"""$kmeansCtes,
         |qv AS (SELECT vec_id, list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) v
         |       FROM embeddings),
         |nv AS (SELECT vec_id, CAST(list_dot_product(v, v) AS BIGINT) n FROM qv),
         |pr AS (SELECT a.vec_id va, b.vec_id vb,
         |         CAST(list_dot_product(qa.v, qb.v) AS BIGINT) dot, na.n na, nb.n nb
         |       FROM a2 a JOIN a2 b ON a.c2 = b.c2 AND a.vec_id < b.vec_id
         |       JOIN qv qa ON a.vec_id = qa.vec_id
         |       JOIN qv qb ON b.vec_id = qb.vec_id
         |       JOIN nv na ON a.vec_id = na.vec_id
         |       JOIN nv nb ON b.vec_id = nb.vec_id),
         |dup AS (SELECT vb vec_id, min(va) dom FROM pr
         |        WHERE dot > 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 100
         |          >= 9 * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
         |        GROUP BY 1)
         |SELECT a2.vec_id, a2.c2 AS cluster, dup.dom IS NULL AS kept,
         |  CAST(coalesce(dup.dom, -1) AS BIGINT) AS dominated_by
         |FROM a2 LEFT JOIN dup USING (vec_id) ORDER BY vec_id""".stripMargin,

    // PQ-ADC mirror: subspace rows via a constant series cross join, the
    // same seed/update/encode chain as q68 but keyed by (vec_id, s), and
    // the ADC join reuses d2 as the query-side LUT.
    "q84_pq_ann" ->
      s"""$pqCtes,
         |adc AS (SELECT l.query_id, c.vec_id, CAST(sum(l.d) AS BIGINT) approx_d
         |        FROM code c JOIN lut l ON c.s = l.s AND c.code = l.code
         |        WHERE c.vec_id <> l.query_id
         |        GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id nbr_id, approx_d,
         |        row_number() OVER (PARTITION BY query_id ORDER BY approx_d, vec_id) rank
         |      FROM adc)
         |SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, approx_d
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // q231 oracle: identical SQ codec long-form — per-dim min/max over
    // the same floor(x*1000) grid, integer code/reconstruct via //
    // (operands non-negative, so // ≡ Spark's DIV), squared-diff sums
    // in BIGINT, both rankings from one scored table.
    "q231_sq8_ann" ->
      """WITH qo AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) q
        |  FROM embeddings),
        |ex AS (SELECT vec_id, unnest(q) x, generate_subscripts(q, 1) i
        |       FROM qo),
        |st AS (SELECT i, min(x) mn, max(x) mx FROM ex GROUP BY 1),
        |rc AS (SELECT vec_id, i, x, CASE WHEN mx = mn THEN mn
        |         ELSE mn + (((x - mn) * 255 // (mx - mn)) * (mx - mn)) // 255
        |       END r
        |       FROM ex JOIN st USING (i)),
        |qq AS (SELECT vec_id query_id, i, x qx FROM ex WHERE vec_id < 10),
        |da AS (SELECT query_id, r.vec_id,
        |         CAST(sum((qx - r.r) * (qx - r.r)) AS BIGINT) approx_d,
        |         CAST(sum((qx - r.x) * (qx - r.x)) AS BIGINT) exact_d
        |       FROM rc r JOIN qq ON r.i = qq.i AND r.vec_id <> qq.query_id
        |       GROUP BY 1, 2),
        |rk AS (SELECT query_id, vec_id, approx_d,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY approx_d, vec_id) ra,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY exact_d, vec_id) re
        |       FROM da)
        |SELECT query_id, CAST(ra AS INT) rank, vec_id nbr_id, approx_d,
        |  CAST(CASE WHEN re <= 3 THEN 1 ELSE 0 END AS INT) hit
        |FROM rk WHERE ra <= 3 ORDER BY query_id, rank""".stripMargin,

    // IVFADC mirror: the shared PQ chain plus the coarse-cell argmin,
    // per-query 2-probe list, and the cell-restricted ADC join.
    "q87_ivfpq_ann" ->
      s"""$pqCtes,
         |nxq AS (SELECT vec_id, CAST(list_dot_product(q, q) AS BIGINT) n FROM qo),
         |cc AS (SELECT vec_id cid, q cv FROM qo ORDER BY vec_id LIMIT 16),
         |ccn AS (SELECT cid, CAST(list_dot_product(cv, cv) AS BIGINT) n FROM cc),
         |dq AS (SELECT e.vec_id, c.cid,
         |        nxq.n - 2 * CAST(list_dot_product(e.q, c.cv) AS BIGINT) + ccn.n d
         |      FROM qo e CROSS JOIN cc c
         |      JOIN nxq ON e.vec_id = nxq.vec_id JOIN ccn ON c.cid = ccn.cid),
         |cell AS (SELECT vec_id, cid cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
         |    FROM dq) WHERE rn = 1),
         |probe AS (SELECT vec_id query_id, cid cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
         |    FROM dq WHERE vec_id < 10) WHERE rn <= 2),
         |cand AS (SELECT p.query_id, a.vec_id FROM probe p
         |         JOIN cell a ON a.cell = p.cell),
         |adc AS (SELECT cand.query_id, c.vec_id, CAST(sum(l.d) AS BIGINT) approx_d
         |        FROM code c JOIN cand ON c.vec_id = cand.vec_id
         |        JOIN lut l ON l.query_id = cand.query_id
         |          AND c.s = l.s AND c.code = l.code
         |        WHERE c.vec_id <> cand.query_id
         |        GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id nbr_id, approx_d,
         |        row_number() OVER (PARTITION BY query_id ORDER BY approx_d, vec_id) rank
         |      FROM adc)
         |SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, approx_d
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q40_text_langid" -> langIdSql,

    "q137_lang_consistency" -> {
      val langs = TextAnalysis.langStopwords
      val scores = langs.map { case (l, sw) =>
        val inList = sw.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(c, x -> x IN ($inList))) AS INT) s_$l"
      }.mkString(",\n    ")
      val names = langs.map(_._1)
      val detect = names.zipWithIndex.map { case (l, i) =>
        val earlier = names.take(i).map(o => s"s_$l > s_$o")
        val later = names.drop(i + 1).map(o => s"s_$l >= s_$o")
        val conds = (earlier ++ later :+ s"s_$l > 0").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString("\n    ")
      s"""$tokCte,
         |ch AS (SELECT doc_id, i,
         |         t[i * 32 + 1 : least((i + 1) * 32, len(t))] c
         |       FROM tok, LATERAL (SELECT unnest(generate_series(0,
         |         CAST(ceil(len(t) / 32.0) AS INT) - 1)) AS i) s
         |       WHERE len(t) > 0),
         |sc AS (SELECT doc_id, i,
         |    $scores
         |  FROM ch),
         |dt AS (SELECT doc_id, i,
         |    CASE $detect ELSE 'und' END lang_d
         |  FROM sc),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_chunks,
         |          CAST(sum(CASE WHEN lang_d <> 'und' THEN 1 ELSE 0 END) AS BIGINT) n_det
         |        FROM dt GROUP BY 1),
         |mc AS (SELECT doc_id, lang_d, count(*) cnt FROM dt
         |       WHERE lang_d <> 'und' GROUP BY 1, 2),
         |mj AS (SELECT doc_id, lang_d, cnt,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY cnt DESC, lang_d) rn
         |       FROM mc)
         |SELECT t.doc_id, n_chunks, n_det,
         |  coalesce(m.lang_d, 'und') AS majority_lang,
         |  CAST(coalesce(m.cnt, 0) AS BIGINT) AS n_majority,
         |  CAST(CASE WHEN n_det > 0 THEN (1000000 * coalesce(m.cnt, 0)) // n_det
         |       ELSE 0 END AS BIGINT) AS consistency_ppm
         |FROM tot t LEFT JOIN (SELECT * FROM mj WHERE rn = 1) m USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },


    "q41_text_quality" ->
      s"""$tokCte
         |SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS INT) AS n_uniq,
         |  CAST(len(list_filter(t, x -> x IN ($stopListSql))) AS INT) AS n_stop,
         |  $qualitySql AS quality
         |FROM tok ORDER BY doc_id""".stripMargin,

    "q42_text_tokens" ->
      s"""$tokCte
         |SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all($normSql, '[a-z]+|[0-9]+')) AS INT) AS n_subword,
         |  CAST(length($normSql) AS INT) AS n_chars_norm,
         |  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
         |FROM tok JOIN documents USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q47_text_rollinghash" -> {
      val gram = (0 until 5).map(j =>
        s"${math.pow(31, j).toLong} * ascii(substr(norm, i + $j, 1))").mkString(" + ")
      s"""WITH n AS (SELECT doc_id AS doc, $normSql AS norm FROM documents),
         |g AS (SELECT doc, CAST($gram AS BIGINT) g
         |      FROM n, LATERAL (SELECT unnest(generate_series(1, length(norm) - 4)) AS i) s
         |      WHERE length(norm) >= 5)
         |SELECT doc, count(*) AS n_grams, min(g) AS min_hash, max(g) AS max_hash
         |FROM g GROUP BY doc ORDER BY doc""".stripMargin
    },

    // Mirrors the cdcChunkHashes contract: 1-based cuts i in [2, len-4]
    // where the q47 gram hash at i is ≡ 0 (mod 61); a cut STARTS a chunk.
    "q142_cdc_chunks" -> {
      val gram = (0 until 5).map(j =>
        s"${math.pow(31, j).toLong} * ascii(substr(norm, i + $j, 1))").mkString(" + ")
      s"""WITH nn AS (SELECT doc_id AS doc, $normSql AS norm FROM documents),
         |n2 AS (SELECT doc, norm, length(norm) AS len FROM nn WHERE length(norm) >= 1),
         |cuts AS (
         |  SELECT doc, i AS s
         |  FROM n2, LATERAL (SELECT unnest(generate_series(2, len - 4)) AS i) t
         |  WHERE len >= 6 AND CAST($gram AS BIGINT) % 61 = 0),
         |starts AS (SELECT doc, 1 AS s FROM n2 UNION ALL SELECT doc, s FROM cuts),
         |bounds AS (
         |  SELECT doc, s,
         |    coalesce(lead(s) OVER (PARTITION BY doc ORDER BY s), len + 1) AS e, norm
         |  FROM starts JOIN n2 USING (doc)),
         |h AS (SELECT doc, md5(substr(norm, s, e - s)) AS ch FROM bounds),
         |df AS (SELECT ch, count(DISTINCT doc) AS nd FROM h GROUP BY 1)
         |SELECT doc, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
         |  CAST((1000000 * sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS shared_ppm
         |FROM h JOIN df USING (ch)
         |GROUP BY doc ORDER BY doc""".stripMargin
    },

    "q39_jdbc_upsert" ->
      """SELECT n_nationkey AS member_key,
        |  CASE WHEN n_nationkey < 10 THEN n_name || ' v2' ELSE n_name END AS caption,
        |  CAST(CASE WHEN n_nationkey < 10 THEN n_regionkey + 100 ELSE n_regionkey END AS BIGINT) AS region_key,
        |  CAST(CASE WHEN n_nationkey < 10 THEN 2 ELSE 1 END AS INT) AS batch
        |FROM nation ORDER BY member_key""".stripMargin,

    "q146_phrase_search" ->
      s"""$tokCte,
         |h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(t)),
         |        i -> t[i] = 'table' AND t[i+1] = 'scan')) AS BIGINT) n_hits
         |      FROM tok)
         |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
         |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

    "q156_proximity_search" ->
      s"""$tokCte,
         |u AS (SELECT doc_id, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |a AS (SELECT doc_id, i pa FROM u WHERE w = 'table'),
         |b AS (SELECT doc_id, i pb FROM u WHERE w = 'scan'),
         |h AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) n_hits,
         |        CAST(min(pb - pa) AS BIGINT) min_gap
         |      FROM a JOIN b ON a.doc_id = b.doc_id
         |        AND b.pb > a.pa AND b.pb - a.pa <= 3
         |      GROUP BY 1)
         |SELECT doc_id, n_hits, min_gap FROM h
         |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

    "q49_fts_inverted" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(translate(text,
         |      '${TextAnalysis.accentFrom}', '${TextAnalysis.accentTo}')),
         |      '[^a-z0-9 ]', ' ', 'g'), ' '), x -> len(x) > 0) t
         |  FROM documents),
         |p AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM tok),
         |m AS (SELECT doc_id FROM p WHERE term IN ('spark', 'merge')
         |      GROUP BY doc_id HAVING count(*) = 2)
         |SELECT d.doc_id, d.source, d.lang
         |FROM m JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // The oracle predicts the decoded fields from the media-generation
    // formula (format by doc_id mod 3, dimensions from doc_id, data
    // stream = utf-8 text); Spark's side reads them from real header
    // BYTES — byte_len checks the exact container overhead (PNG
    // signature+IHDR+IDAT+IEND = 57, BMP headers = 54, GIF header+
    // trailer = 14) and checksum checks the parsed data stream.
    // q208 oracle: the generator's dim formulas (q43 precedent — the
    // Spark side decodes real bytes; the oracle re-derives the planted
    // dims) through the identical integer gate + plan arithmetic.
    "q208_image_resize_plan" ->
      """WITH img AS (SELECT doc_id media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' ELSE 'bmp' END format,
        |    CAST(doc_id % 637 + 1 AS BIGINT) width,
        |    CAST((doc_id * 7) % 473 + 1 AS BIGINT) height
        |  FROM documents WHERE doc_id % 3 < 2),
        |g AS (SELECT *, least(width, height) mn, greatest(width, height) mx
        |      FROM img)
        |SELECT media_id, format, width, height,
        |  CASE WHEN mn < 64 THEN 'too_small'
        |       WHEN mx > 3 * mn THEN 'extreme_aspect'
        |       ELSE 'keep' END gate,
        |  CASE WHEN mn >= 64 AND mx <= 3 * mn
        |       THEN CAST((1000000 * 224) // mn AS BIGINT) END scale_ppm,
        |  CASE WHEN mn >= 64 AND mx <= 3 * mn
        |       THEN CAST((width * 224) // mn AS BIGINT) END target_w,
        |  CASE WHEN mn >= 64 AND mx <= 3 * mn
        |       THEN CAST((height * 224) // mn AS BIGINT) END target_h,
        |  CASE WHEN mn >= 64 AND mx <= 3 * mn
        |       THEN CAST(((width * 224) // mn - 224) // 2 AS BIGINT) END crop_x,
        |  CASE WHEN mn >= 64 AND mx <= 3 * mn
        |       THEN CAST(((height * 224) // mn - 224) // 2 AS BIGINT) END crop_y
        |FROM g ORDER BY media_id""".stripMargin,

    "q43_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 2 THEN 'video' ELSE 'image' END AS kind,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'gif' END AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 57 WHEN 1 THEN 54 ELSE 14 END
        |       + length(text) AS BIGINT) AS byte_len,
        |  CAST(doc_id % 637 + 1 AS INT) AS width,
        |  CAST((doc_id * 7) % 473 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN length(text) // 256 + 1
        |       ELSE 1 END AS INT) AS n_frames,
        |  md5(text) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,

    "q139_media_neardup" -> {
      val hamming = (1 to 64).map(j =>
        s"CASE WHEN substr(a.simhash,$j,1) <> substr(b.simhash,$j,1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      // Full pairwise compare — deliberately NOT the banded protocol, so
      // the oracle independently proves the pigeonhole banding loses no
      // pair at Hamming <= 8 over the 64-bit signature.
      s"""WITH ch AS (
         |  SELECT doc_id, i, ascii(substr(text, CAST(i AS INT), 1)) v,
         |    length(text) n
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) s
         |  WHERE length(text) > 0),
         |agg AS (SELECT doc_id, ((i - 1) * 64) // n b,
         |          count(*) nj, sum(v) sj
         |        FROM ch GROUP BY doc_id, ((i - 1) * 64) // n),
         |tot AS (SELECT doc_id, sum(v) s, count(*) n FROM ch GROUP BY doc_id),
         |bits AS (SELECT a.doc_id, a.b,
         |    CASE WHEN a.sj * t.n >= t.s * a.nj THEN '1' ELSE '0' END bt
         |  FROM agg a JOIN tot t USING (doc_id)),
         |sh AS (SELECT t.doc_id,
         |    string_agg(coalesce(bits.bt, '0'), '' ORDER BY g.j) simhash
         |  FROM tot t CROSS JOIN (SELECT unnest(generate_series(0, 63)) j) g
         |  LEFT JOIN bits ON bits.doc_id = t.doc_id AND bits.b = g.j
         |  GROUP BY t.doc_id),
         |hp AS (SELECT a.doc_id media_a, b.doc_id media_b,
         |    CAST($hamming AS INT) hamming
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT media_a, media_b, hamming FROM hp WHERE hamming <= 8
         |ORDER BY media_a, media_b""".stripMargin
    },

    // Frames reconstruct from the generation formula: a video is
    // doc_id % 3 = 2, its decoded data stream is the utf-8 text, and
    // frame f is the 256-byte block starting at f*256 (trailing partial
    // block included — n_frames = len // 256 + 1, q43's formula). The
    // 50-owner frequency cap is applied to the PAIRING only, exactly as
    // the Spark plan does.
    "q150_video_frame_neardup" ->
      """WITH vid AS (
        |  SELECT doc_id, text, length(text) n FROM documents
        |  WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT doc_id, md5(substr(text, CAST(f * 256 + 1 AS INT), 256)) h
        |  FROM vid,
        |    LATERAL (SELECT unnest(generate_series(0, n // 256)) AS f) s),
        |fh AS (SELECT DISTINCT doc_id, h FROM fr),
        |ok AS (SELECT h FROM fh GROUP BY h HAVING count(*) <= 50),
        |cnt AS (SELECT doc_id, count(*) nf FROM fh GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id media_a, b.doc_id media_b, count(*) shared
        |  FROM fh a JOIN fh b USING (h) JOIN ok USING (h)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT media_a, media_b, shared AS n_shared,
        |  ca.nf AS n_a, cb.nf AS n_b,
        |  (1000000 * shared) // (ca.nf + cb.nf - shared) AS jaccard_ppm
        |FROM pr
        |JOIN cnt ca ON ca.doc_id = media_a
        |JOIN cnt cb ON cb.doc_id = media_b
        |ORDER BY media_a, media_b""".stripMargin,

    // The sample stream reconstructs from the generation formula
    // (sample i = codepoint of text char i); peaks, landmarks, the
    // 50-owner cap and the >=8 threshold replay the exact integer
    // protocol of the Spark plan on SQL window functions.
    "q157_audio_fingerprint" ->
      """WITH ch AS (
        |  SELECT doc_id, i, ascii(substr(text, CAST(i AS INT), 1)) v
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) s
        |  WHERE length(text) > 0),
        |tot AS (SELECT doc_id, sum(v) sv, count(*) cnt FROM ch GROUP BY doc_id),
        |pk AS (
        |  SELECT doc_id, i, v
        |  FROM ch JOIN tot USING (doc_id)
        |  QUALIFY v * cnt > sv
        |    AND v > coalesce(max(v) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), -1)
        |    AND v >= coalesce(max(v) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 1 FOLLOWING AND 4 FOLLOWING), -1)),
        |lm0 AS (
        |  SELECT doc_id, v v1, i t1,
        |    lead(i, 1) OVER w i2, lead(v, 1) OVER w v2,
        |    lead(i, 2) OVER w i3, lead(v, 2) OVER w v3
        |  FROM pk WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |lands AS (
        |  SELECT DISTINCT doc_id, v1, v2, v3, i2 - t1 dt1, i3 - i2 dt2
        |  FROM lm0 WHERE i3 IS NOT NULL
        |    AND i2 - t1 BETWEEN 1 AND 64 AND i3 - i2 BETWEEN 1 AND 64),
        |ok AS (SELECT v1, v2, v3, dt1, dt2 FROM lands
        |  GROUP BY 1, 2, 3, 4, 5 HAVING count(*) <= 50),
        |pr AS (
        |  SELECT a.doc_id media_a, b.doc_id media_b, count(*) n_shared
        |  FROM lands a JOIN lands b USING (v1, v2, v3, dt1, dt2)
        |  JOIN ok USING (v1, v2, v3, dt1, dt2)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT media_a, media_b, n_shared FROM pr WHERE n_shared >= 8
        |ORDER BY media_a, media_b""".stripMargin,

    "q44_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN length(text) // 256 + 1
        |       ELSE 1 END AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN (length(text) // 256) // 4
        |       ELSE 0 END + 1 AS BIGINT) AS n_sampled
        |FROM documents ORDER BY media_id""".stripMargin,

    "q127_embedding_qc" ->
      s"""$qeCtes,
         |b AS (SELECT label,
         |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) nq,
         |        len(q) dim
         |      FROM qe),
         |a1 AS (SELECT label, CAST(count(*) AS BIGINT) n_vecs,
         |        CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT) n_zero,
         |        CAST(min(dim) AS BIGINT) min_dim,
         |        CAST(max(dim) AS BIGINT) max_dim,
         |        CAST(min(nq) AS BIGINT) min_nq,
         |        CAST(max(nq) AS BIGINT) max_nq,
         |        CAST(sum(nq) AS BIGINT) sum_nq
         |      FROM b GROUP BY label),
         |pd AS (SELECT label, pos, CAST(sum(x) AS BIGINT) sx
         |       FROM (SELECT label, unnest(q) x,
         |               unnest(generate_series(1, len(q))) pos FROM qe)
         |       GROUP BY label, pos),
         |s2 AS (SELECT label, CAST(sum(sx * sx) AS BIGINT) ssx
         |       FROM pd GROUP BY label)
         |SELECT a1.label, n_vecs, n_zero, min_dim, max_dim,
         |  min_nq, max_nq, sum_nq,
         |  CAST(n_vecs * sum_nq - ssx AS BIGINT) AS scatter
         |FROM a1 JOIN s2 USING (label) ORDER BY label""".stripMargin,

    "q128_hard_negatives" ->
      s"""$qeCtes,
         |sc AS (SELECT q.vec_id query_id, c.vec_id vec_id, c.label neg_label,
         |         CAST(list_dot_product(q.q, c.q) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM qe q
         |       JOIN qe c ON c.vec_id <> q.vec_id AND c.label <> q.label
         |       JOIN nrm nq ON q.vec_id = nq.vec_id
         |       JOIN nrm nc ON c.vec_id = nc.vec_id
         |       WHERE q.vec_id < 10),
         |r AS (SELECT query_id, vec_id, neg_label, dot,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                   vec_id) rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, neg_label, dot
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // q273 oracle: sign bits from the same floor(x*1000) grid
    // (bit i = q[i] >= 0, mirroring Similarity.packSignHalf), Hamming
    // as the per-dim sign-disagreement count (≡ the engine's packed
    // xor+popcount), both rankings from one scored table — the q231
    // two-window audit shape.
    "q273_binary_sign_ann" ->
      s"""$qeCtes,
         |ex AS (SELECT vec_id, generate_subscripts(q, 1) i, unnest(q) x
         |       FROM qe),
         |bits AS (SELECT vec_id, i, CASE WHEN x >= 0 THEN 1 ELSE 0 END sbit
         |         FROM ex),
         |hm AS (SELECT qb.vec_id query_id, cb.vec_id vec_id,
         |         sum(CASE WHEN qb.sbit <> cb.sbit THEN 1 ELSE 0 END) h
         |       FROM bits qb JOIN bits cb
         |         ON qb.i = cb.i AND cb.vec_id <> qb.vec_id
         |       WHERE qb.vec_id < 10
         |       GROUP BY 1, 2),
         |sc AS (SELECT hm.query_id, hm.vec_id, hm.h,
         |         CAST(list_dot_product(cq.q, cc.q) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM hm JOIN qe cq ON cq.vec_id = hm.query_id
         |       JOIN qe cc ON cc.vec_id = hm.vec_id
         |       JOIN nrm nq ON nq.vec_id = hm.query_id
         |       JOIN nrm nc ON nc.vec_id = hm.vec_id),
         |rk AS (SELECT query_id, vec_id, h,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY h, vec_id) ra,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                    vec_id) re
         |       FROM sc)
         |SELECT query_id, CAST(ra AS INT) rank, vec_id nbr_id,
         |  CAST(h AS INT) hamming,
         |  CAST(CASE WHEN re <= 3 THEN 1 ELSE 0 END AS INT) hit
         |FROM rk WHERE ra <= 3 ORDER BY query_id, rank""".stripMargin,

    "q274_mih_chunk_sweep" -> mihSweepSql
  )
}
