package graft.queries

import graft.Tables
import graft.ext.{Components, CubeLattice, Dedup, Skyline, SynopsisAudit, TextAnalysis, VOptHistogram, Wavelet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 analytics operators: the OLAP shaping surface (pivot /
  * unpivot / SCD-2 snapshots — the spreadsheet-facing forms the
  * reference's Excel/CSV consumers expect, ref
  * `scanner/DGIS_SCAN_2_stable.py:429-467` tabular export) plus the
  * remaining corpus-audit passes a 100 TB curation run needs: Gopher
  * quality rules, per-group OLS regression, calendar gap-fill and
  * rolling windows over the event stream, block-level (paragraph
  * analogue) dedup, pairwise containment decontamination, PMI
  * collocations, and integer-exact PageRank over the near-dup / k-NN
  * graph. Every query is DuckDB-oracle-gated (Parity conventions).
  */
object AnalyticsQueries {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val prioAlias =
    Seq("p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Poisson-bootstrap confidence intervals (Chamandy et al. 2012) for
    // the per-source mean quality score: every corpus metric the
    // curation loop thresholds on (q41 quality, q58 budgets, q155
    // ranks) is a point estimate; this puts a 95% interval next to it.
    // 64 deterministic replicates — each (doc, b) gets a Poisson(1)
    // weight from the md5 draw against LITERAL CDF thresholds (no
    // transcendentals at runtime), replicate means are integer-exact
    // milli-units via the +50 shift (quality ≥ −50 by construction, so
    // the shifted numerator is non-negative and truncating vs flooring
    // division cannot diverge between engines; the shift cancels
    // exactly because 50000·Σw divides by Σw), and the interval is the
    // exact type-1 [2nd, 63rd] order statistic of the 64 means.
    // 100 TB shape: the replicate expansion is a map-side explode (×64
    // rows, no shuffle), the means are one groupBy on (source, b) with
    // map-side partials, and the order statistics run per source over
    // exactly 64 rows — bootstrap uncertainty at scan cost.
    "q204_bootstrap_ci" -> ((s, d) => {
      val base = ExtQueries.docProfile(s, d)
        .select(col("doc_id"), col("source"), col("quality"))
      val repMeans = graft.ext.Sampling.bootstrapRegisters(base, 64)
        .select(col("source"),
          (expr("CAST((1000 * swq50) DIV sw AS BIGINT)") - lit(50000L))
            .as("mean_q"))
      val rn = row_number().over(
        Window.partitionBy(col("source")).orderBy(col("mean_q")))
      val ci = repMeans.withColumn("rn", rn)
        .groupBy(col("source"))
        .agg(min(when(col("rn") === 2, col("mean_q"))).as("boot_lo_milli"),
          min(when(col("rn") === 63, col("mean_q"))).as("boot_hi_milli"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (expr("CAST((1000 * sum(quality + 50)) DIV count(*) AS BIGINT)")
            - lit(50000L)).as("mean_q_milli"))
        .join(ci, "source")
        .orderBy(col("source"))
    }),

    // Pivot: nation rows × order-priority columns, cent-exact revenue —
    // Spark's RelationalGroupedDataset.pivot with an EXPLICIT value list
    // (an unlisted pivot would scan once just to discover columns; at
    // 100 TB the column set is a catalog fact, not a data discovery).
    "q88_pivot_priority" -> ((s, d) => {
      val rows = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderpriority").as("pri"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val piv = priorities.zip(prioAlias).foldLeft(
          rows.groupBy(col("n_name")).pivot("pri", priorities).agg(sum(col("cents")))) {
        case (df, (p, a)) => df.withColumnRenamed(p, a)
      }
      piv.select(col("n_name") +:
          prioAlias.map(a => coalesce(col(a), lit(0L)).as(a)): _*)
        .withColumn("row_total", prioAlias.map(col).reduce(_ + _))
        .orderBy(col("n_name"))
    }),

    // Gopher quality rules (Rae et al. 2021): integer-exact boolean
    // flags per document — the standard pre-dedup quality gate.
    "q89_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherFlagsFromProfile(ExtQueries.docProfile(s, d))
        .select(col("doc_id"), col("n_words"), col("len_sum"), col("n_alpha"),
          col("n_stop_present"), col("flag_word_count"), col("flag_mean_len"),
          col("flag_alpha"), col("flag_stop"), col("pass_gopher"))
        .orderBy(col("doc_id"))),

    // Weak-supervised quality classifier (the CCNet/LLaMA "train a cheap
    // classifier, score the corpus" stage): multinomial Naive Bayes over
    // hashed unigrams, trained IN-ENGINE on the q89 Gopher labels, then
    // applied back to every document. Output: per-source confusion
    // counts between the heuristic labels and the trained model — the
    // audit a pipeline runs before trusting the classifier on unlabeled
    // data. All-BIGINT except the λ/prior ln (q133 accepted-risk).
    "q145_nb_quality" -> ((s, d) => {
      nbScored(s, d).join(ExtQueries.docSourceMap(s, d), "doc")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clean"), lit(1L)).otherwise(lit(0L))).as("n_label_clean"),
          sum(when(col("pred_clean"), lit(1L)).otherwise(lit(0L))).as("n_pred_clean"),
          sum(when(col("pred_clean") === col("clean"), lit(1L)).otherwise(lit(0L)))
            .as("n_agree"))
        .orderBy(col("source"))
    }),

    // Calibration (reliability) audit of the q145 weak classifier: docs
    // bin into score deciles (ntile over the total (score_q, doc) order
    // — both engines split remainders to the leading buckets, so the
    // bins are identical), and each bin reports its heuristic-label
    // clean rate. A calibrated classifier's clean rate must rise with
    // the decile — THE check a pipeline runs before converting scores
    // into keep/drop thresholds (Platt 1999's diagnostic, integer-exact
    // here). At corpus scale the global ntile becomes broadcast
    // approx-quantile bin edges; the per-bin aggregate is unchanged.
    "q165_nb_calibration" -> ((s, d) => {
      // Global decile ntile via the sharded rank: an unpartitioned
      // ntile window is the literal single-partition warning — the one
      // plan shape that cannot survive a corpus-sized score table.
      nbScored(s, d)
        .transform(df => graft.ops.ShardedRank.withNtile(
          df, Nil, col("score_q"), col("doc"), 10, "decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clean"), lit(1L)).otherwise(lit(0L))).as("n_clean"),
          min(col("score_q")).as("score_min"),
          max(col("score_q")).as("score_max"))
        .withColumn("clean_rate_ppm", expr("(1000000 * n_clean) div n_docs"))
        .orderBy(col("decile"))
    }),

    // Per-nation OLS regression of line price (whole units) on quantity:
    // all moment sums are integer-exact; only the FINAL slope/intercept/
    // corr divisions run in double — deterministic given exact operands
    // (int64→double casts round identically in every engine; >2^63 would
    // go through DECIMAL here vs HUGEINT in DuckDB, whose double casts
    // can differ by 1 ulp — observed on this query's corr in round 4).
    //
    // ANCHORED two-pass (round 6): raw quadratic moments (Σy², n·Σy²)
    // outgrow int64 around sf0.1 — the old single-pass guard tripped
    // there, so the query could not run at bench scale. Pass 1 takes
    // linear sums only (never overflow: n·max ≈ 6e13 at sf100); each
    // nation's integer anchor is its floor mean (sx div n). Pass 2
    // aggregates DEVIATION moments against the broadcast anchors. Shift
    // invariance makes the identities EXACT and unchanged —
    //   n·Σx'y' − Σx'Σy' = n·Σxy − ΣxΣy  (same int64, bit-identical
    // outputs, oracle untouched) — while every intermediate is now
    // deviation-sized: Σy'² grows with n·spread², not n·max², pushing
    // the exact-int64 envelope from sf≈0.05 to sf≈10 per nation slice.
    "q90_price_regression" -> ((s, d) => {
      val j = graft.ops.TransientCache.persist(
        Tables.lineitem(s, d)
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
            expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
            expr("CAST(floor(l_extendedprice) AS BIGINT)").as("y")))
      val anchors = j.groupBy(col("n_name")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"))
        .select(col("n_name"), col("n"), col("sx"), col("sy"),
          expr("sx div n").as("ax"), expr("sy div n").as("ay"))
      val st = j.join(broadcast(anchors), "n_name")
        .select(col("n_name"), col("n"), col("sx"), col("sy"),
          (col("x") - col("ax")).as("dx"), (col("y") - col("ay")).as("dy"))
        .groupBy(col("n_name"), col("n"), col("sx"), col("sy")).agg(
          sum(col("dx")).as("cx"), sum(col("dy")).as("cy"),
          sum(col("dx") * col("dy")).as("cxy"),
          sum(col("dx") * col("dx")).as("cxx"),
          sum(col("dy") * col("dy")).as("cyy"),
          // Un-overflowable witnesses (max of single deviations): the
          // moments above are int64 SUMS that can wrap silently with
          // ANSI off — a wrapped moment could satisfy the envelope check
          // it exists to trip (r6 advice). n·max-deviation products bound
          // every moment AND every partial sum a priori, from inputs
          // arithmetic cannot have corrupted.
          max(abs(col("dx"))).as("mdx"), max(abs(col("dy"))).as("mdy"))
        // The envelope is ENFORCED, not asserted in prose: the a-priori
        // bound (n·mdx·mdy etc. — proves the int64 moment SUMS cxy/cxx/
        // cyy did not wrap; silent wraparound would corrupt slope/corr
        // with no error), plus a decimal-width bound on the final
        // identity. The final products n·moment − c·c used to be int64
        // too and genuinely overflowed at the 10× fixture (n·cyy ≈
        // 5e19 per nation slice — the r10 scaling run tripped the old
        // guard exactly as designed); they now run in DECIMAL(38,0),
        // exact to 1e38 (reachable only past ~sf10⁶), and only the
        // final correctly-rounded cast to double leaves exact
        // arithmetic — the identical double DuckDB's BIGINT→DOUBLE
        // cast produces at oracle scale. The check rides the output
        // `n` column (n + 0) so pruning can't drop it.
        .withColumn("n", col("n") + coalesce(
          assert_true(
            (col("n").cast("double") *
              greatest(
                col("mdx").cast("double") * col("mdx").cast("double"),
                col("mdy").cast("double") * col("mdy").cast("double"),
                col("mdx").cast("double") * col("mdy").cast("double"))
              < lit(4.6e18)) &&
            (col("n").cast("double") *
              greatest(col("cxx").cast("double"), col("cyy").cast("double"),
                abs(col("cxy")).cast("double"))
              + col("n").cast("double") * col("n").cast("double")
              < lit(9.0e37)),
            lit("q90 anchored moments would overflow decimal38: rescale units"))
            .cast("long"),
          lit(0L)))
      st.select(col("n_name"), col("n"),
          expr("CAST(CAST(n AS DECIMAL(20,0)) * CAST(cxy AS DECIMAL(20,0)) - " +
            "CAST(cx AS DECIMAL(20,0)) * CAST(cy AS DECIMAL(20,0)) AS DOUBLE)")
            .as("cov_d"),
          expr("CAST(CAST(n AS DECIMAL(20,0)) * CAST(cxx AS DECIMAL(20,0)) - " +
            "CAST(cx AS DECIMAL(20,0)) * CAST(cx AS DECIMAL(20,0)) AS DOUBLE)")
            .as("varx_d"),
          expr("CAST(CAST(n AS DECIMAL(20,0)) * CAST(cyy AS DECIMAL(20,0)) - " +
            "CAST(cy AS DECIMAL(20,0)) * CAST(cy AS DECIMAL(20,0)) AS DOUBLE)")
            .as("vary_d"),
          col("sx").cast("double").as("sx_d"), col("sy").cast("double").as("sy_d"))
        .withColumn("slope", col("cov_d") / col("varx_d"))
        .select(col("n_name"), col("n"), col("slope"),
          ((col("sy_d") - col("slope") * col("sx_d")) / col("n").cast("double"))
            .as("intercept"),
          (col("cov_d") / sqrt(col("varx_d") * col("vary_d"))).as("corr"))
        .orderBy(col("n_name"))
    }),

    // Calendar gap-fill: the full (event_type × day) grid over the
    // stream's span, zero-filled, with an exact cumulative total — the
    // time-series densification every dashboard/anomaly pass needs
    // (missing days silently vanish from a plain groupBy).
    "q91_daily_gapfill" -> ((s, d) => {
      // ONE scan of the fact: bounds and the type set derive from the
      // tiny persisted daily aggregate, not from re-reading events
      val daily = graft.ops.TransientCache.persist(dailyAgg(Tables.events(s, d)))
      // one-row bounds × tiny calendar: both sides of the grid broadcast
      val cal = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val grid = daily.select(col("event_type")).distinct().crossJoin(cal)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      grid.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("value_q"), lit(0L)).as("value_q"))
        .withColumn("cum_value_q", sum(col("value_q")).over(w))
        .orderBy(col("event_type"), col("day"))
        
    }),

    // Block-level exact dedup (the paragraph-dedup analogue for a
    // corpus without line structure, Dolma/CCNet-style): 20-token
    // blocks, md5 per block, global first-occurrence-keeps policy and
    // per-doc duplication share.
    "q92_block_dedup" -> ((s, d) => {
      val toks = TextAnalysis.tokens(TextAnalysis.normalize(col("text")))
      val blocks = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .where(size(col("t")) > 0)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(t) + 19) div 20 - 1), " +
            "i -> md5(CAST(concat_ws(' ', slice(t, i * 20 + 1, 20)) AS BINARY)))")))
        .withColumnRenamed("pos", "blk_idx")
        .withColumnRenamed("col", "block_hash")
      val wFirst = Window.partitionBy(col("block_hash"))
        .orderBy(col("doc_id"), col("blk_idx"))
      val wCnt = Window.partitionBy(col("block_hash"))
      blocks
        .withColumn("rn", row_number().over(wFirst))
        .withColumn("cnt", count(lit(1)).over(wCnt))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_blocks"))
        .orderBy(col("doc_id"))
    }),

    // Integer-exact PageRank (3 iterations, damping 17/20) over the q63
    // cell-local k-NN graph — which corpus items sit at the center of
    // the similarity graph (micro-unit ranks; see Components.pageRank
    // for the determinism contract).
    "q93_pagerank" -> ((s, d) => {
      val edges = ExtQueries.knnEdges(s, d)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      Components.pageRankAuto(edges, "src", "dst", 3)
        .select(col("node").as("vec_id"), col("pr"))
        .orderBy(col("vec_id"))
    }),

    // TextRank keyword centrality (Mihalcea & Tarau 2004): PageRank over
    // the undirected adjacent-token co-occurrence graph — the q93
    // integer PageRank machinery composed with the q82/q97 shared pair
    // artifact; tokens map to dense ids (vocabulary-sized window) and
    // back. Edges keep only pairs co-occurring >= 3 times: on this
    // word-salad corpus the unfiltered window graph is near-regular
    // (every rank ties), while the frequency-gated graph has real
    // structure for centrality to rank. Top-20 = the keyword skeleton.
    "q148_textrank" -> ((s, d) => {
      // persisted: the filtered pair aggregate feeds the vocab union AND
      // both id-mapping joins — unpersisted it recomputes three times
      val pairs = graft.ops.TransientCache.persist(
        ExtQueries.docSourcePairCounts(s, d)
          .where(col("tok_a") =!= col("tok_b"))
          .groupBy(col("tok_a"), col("tok_b")).agg(sum(col("n")).as("n"))
          .where(col("n") >= 3L)
          .select(col("tok_a"), col("tok_b")))
      val vocab = pairs.select(col("tok_a").as("token"))
        .union(pairs.select(col("tok_b").as("token"))).distinct()
        .withColumn("id",
          row_number().over(Window.orderBy(col("token"))).cast("long"))
      val e = pairs
        .union(pairs.select(col("tok_b").as("tok_a"), col("tok_a").as("tok_b")))
        .distinct()
        .join(vocab.select(col("token").as("tok_a"), col("id").as("src")), "tok_a")
        .join(vocab.select(col("token").as("tok_b"), col("id").as("dst")), "tok_b")
        .select(col("src"), col("dst"))
      Components.pageRankAuto(e, "src", "dst", 3)
        .join(vocab, col("node") === col("id"))
        .select(col("token"), col("pr"))
        .orderBy(col("pr").desc, col("token")).limit(20)
    }),

    // Unpivot (stack): wide per-doc metrics to long (metric, value)
    // form, then one aggregate per metric — the reshape that feeds any
    // generic metric store. Reads the session docProfile artifact, which
    // already carries n_tokens/n_uniq/n_stop (r7 verdict: re-deriving
    // them from raw text here cost 5.7× under memory pressure on the
    // driver host; the profile is the stored per-doc stats table any
    // production metric store would read).
    "q94_metric_unpivot" -> ((s, d) =>
      ExtQueries.docProfile(s, d)
        .selectExpr("stack(4, " +
          "'n_chars', n_chars, " +
          "'n_stop', CAST(n_stop AS BIGINT), " +
          "'n_tokens', CAST(n_tokens AS BIGINT), " +
          "'n_uniq', CAST(n_uniq AS BIGINT)) AS (metric, value)")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("vmin"),
          max(col("value")).as("vmax"), sum(col("value")).as("vsum"))
        .orderBy(col("metric"))),

    // 7-day rolling counts/sums over the gap-filled daily grid (rows
    // frame ≡ days frame because the grid is dense — the reason q91's
    // densification comes first).
    "q95_rolling_7d" -> ((s, d) => {
      // same one-fact-scan shape as q91
      val daily = graft.ops.TransientCache.persist(dailyAgg(Tables.events(s, d)))
      val cal = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val grid = daily.select(col("event_type")).distinct().crossJoin(cal)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      grid.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("value_q"), lit(0L)).as("value_q"))
        .withColumn("roll7_n", sum(col("n_events")).over(w))
        .withColumn("roll7_sum", sum(col("value_q")).over(w))
        .withColumn("roll7_avg_q",
          when(col("roll7_n") > 0, expr("roll7_sum div roll7_n")).otherwise(0L))
        .orderBy(col("event_type"), col("day"))
        
    }),

    // Pairwise containment decontamination (PaLM/FLAN-style): for each
    // candidate doc, the single benchmark doc covering the largest share
    // of its distinct trigrams — containment |A∩B|/|A|, not Jaccard, so
    // a small benchmark item embedded in a large doc still trips it.
    "q96_containment" -> ((s, d) => {
      // Both slices come off the session trigram artifact (already
      // persisted) — no per-query shingle scan, no TransientCache needed.
      val sh = ExtQueries.trigramShingles(s, d)
      val srcMap = ExtQueries.docSourceMap(s, d)
      val candGrams = sh.join(broadcast(srcMap
        .where(col("source") =!= "src0").select(col("doc"))), "doc")
      val benchGrams = sh.join(broadcast(srcMap
        .where(col("source") === "src0").select(col("doc"))), "doc")
      val hits = candGrams.as("c")
        .join(benchGrams.as("b"), col("c.s") === col("b.s"))
        .groupBy(col("c.doc").as("doc"), col("b.doc").as("bench_doc"))
        .agg(count(lit(1)).as("n_common"))
      val sizes = candGrams.groupBy(col("doc")).agg(count(lit(1)).as("n_grams"))
      val wBest = Window.partitionBy(col("doc"))
        .orderBy(col("n_common").desc, col("bench_doc"))
      val best = hits.withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1).drop("rn")
      sizes.join(best, Seq("doc"), "left")
        .select(col("doc").as("doc_id"), col("n_grams"),
          coalesce(col("bench_doc"), lit(-1L)).as("best_bench"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("containment_ppm", expr("(1000000 * n_common) div n_grams"))
        .orderBy(col("doc_id"))
    }),

    // Funnel time-to-convert quantiles — q70's stage counts answered in
    // TIME: per user the first view, the earliest click at-or-after it,
    // the earliest purchase at-or-after that click; per stage pair the
    // exact p50/p90 latency. Quantiles are type-1 (value at rank
    // ceil(q·n)) selected by the integer rank-crossing identity
    // q·rn ≥ p·n AND q·(rn−1) < p·n — no percentile function whose
    // interpolation semantics could drift between engines; latencies in
    // exact microseconds. Ties order arbitrarily under row_number but
    // the SELECTED value at the crossing rank is unique, so the answer
    // is deterministic. Stage tables are per-user min-aggregates; the
    // rank pass is one window over the (users × 2)-row latency table.
    "q173_funnel_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val c = ev.join(v, "user_id")
        .where(col("event_type") === "click" && col("ts") >= col("t0"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val p = ev.join(c, "user_id")
        .where(col("event_type") === "purchase" && col("ts") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val lat = c.join(v, "user_id")
        .select(lit("view->click").as("pair"),
          expr("unix_micros(t1) - unix_micros(t0)").as("us"))
        .unionByName(p.join(c, "user_id")
          .select(lit("click->purchase").as("pair"),
            expr("unix_micros(t2) - unix_micros(t1)").as("us")))
      val wr = Window.partitionBy(col("pair")).orderBy(col("us"))
      val wn = Window.partitionBy(col("pair"))
      lat
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("pair"))
        .agg(max(col("n")).as("n_users"),
          max(when(col("rn") * 2 >= col("n") &&
            (col("rn") - 1) * 2 < col("n"), col("us"))).as("p50_us"),
          max(when(col("rn") * 10 >= col("n") * 9 &&
            (col("rn") - 1) * 10 < col("n") * 9, col("us"))).as("p90_us"))
        .orderBy(col("pair"))
    }),

    // Robust per-group feature scaling (median/IQR — the scaler that
    // shrugs off the outliers a mean/σ z-score chases): every doc's
    // length rescaled as 1000·(x − median)/IQR within its source.
    // Quartiles are exact type-1 via the q173 rank-crossing identity
    // (one window per source), broadcast back to the scan — the
    // standard normalize-features-per-domain step, integer-exact with
    // a degenerate-IQR guard. Group stats are groups×3 rows at any
    // corpus size.
    "q182_robust_scaling" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // Rank-crossing quantiles with the SHARDED rank (source is a
      // ~20-value enum; a per-source window serializes — the r10 q155
      // shape). Tie order by doc_id: any rank assignment consistent
      // with n_chars order picks the same quantile VALUES.
      val ranked = graft.ops.ShardedRank.withRank(
        docs, Seq("source"), col("n_chars"), col("doc_id"), "rn")
      val nTab = ranked.groupBy(col("source")).agg(max(col("rn")).as("n"))
      val stats = ranked.join(broadcast(nTab), "source")
        .groupBy(col("source"))
        .agg(
          max(when(col("rn") * 4 >= col("n") &&
            (col("rn") - 1) * 4 < col("n"), col("n_chars"))).as("p25"),
          max(when(col("rn") * 2 >= col("n") &&
            (col("rn") - 1) * 2 < col("n"), col("n_chars"))).as("med"),
          max(when(col("rn") * 4 >= col("n") * 3 &&
            (col("rn") - 1) * 4 < col("n") * 3, col("n_chars"))).as("p75"))
      docs.join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("med"), (col("p75") - col("p25")).as("iqr"))
        // floor of an exact-integer-operand double division: identical
        // in both engines for ALL signs (integer div/'//' differ on
        // negatives — truncation vs floor)
        .withColumn("robust_q", expr(
          "CASE WHEN iqr > 0 THEN CAST(floor(CAST(1000 * (n_chars - med) " +
            "AS DOUBLE) / CAST(iqr AS DOUBLE)) AS BIGINT) ELSE 0 END"))
        .orderBy(col("doc_id"))
    }),

    // Operating-curve sweep for the NB classifier: precision/recall at
    // five fixed score thresholds around q145's score_q > 0 operating
    // point — the table someone choosing a keep/drop cutoff actually
    // reads, next to the threshold-free AUC (q180). One pass over the
    // session score table per sweep (the thresholds explode map-side,
    // 5× a 500-row table).
    "q181_nb_pr_sweep" -> ((s, d) => {
      import s.implicits._
      val thr = s.createDataset(Seq(-2000L, -1000L, 0L, 1000L, 2000L))
        .toDF("threshold")
      nbScored(s, d)
        .crossJoin(broadcast(thr))
        .groupBy(col("threshold"))
        .agg(
          sum(when(col("score_q") > col("threshold"), lit(1L)).otherwise(lit(0L)))
            .as("n_pred_pos"),
          sum(when(col("score_q") > col("threshold") && col("clean"), lit(1L))
            .otherwise(lit(0L))).as("n_tp"),
          sum(when(col("clean"), lit(1L)).otherwise(lit(0L))).as("n_pos"))
        .select(col("threshold"), col("n_pred_pos"), col("n_tp"),
          expr("CASE WHEN n_pred_pos > 0 THEN (1000000 * n_tp) div n_pred_pos " +
            "ELSE 0 END").as("precision_ppm"),
          expr("(1000000 * n_tp) div n_pos").as("recall_ppm"))
        .orderBy(col("threshold"))
    }),

    // Exact AUC of the NB quality classifier (Mann-Whitney U identity:
    // AUC = P(score⁺ > score⁻) + ½P(tie)) — completing the classifier
    // audit triple: confusion (q145), calibration (q165), and now
    // ranking power, all off the one session-cached score table.
    // Integer-exact with ties: scores group to (score, n_pos, n_neg),
    // one running window gives each score's strictly-below negative
    // count, and 2U = Σ p·(2·q_below + q_ties) stays in int64 —
    // auc_ppm = 10⁶·2U / (2·n⁺·n⁻), no rank averaging, no doubles.
    "q180_nb_auc" -> ((s, d) => {
      val g = nbScored(s, d)
        .groupBy(col("score_q"))
        .agg(sum(when(col("clean"), lit(1L)).otherwise(lit(0L))).as("p"),
          sum(when(!col("clean"), lit(1L)).otherwise(lit(0L))).as("q"))
      val w = Window.orderBy(col("score_q"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("q_below", coalesce(sum(col("q")).over(w), lit(0L)))
        .agg(sum(col("p") * (col("q_below") * 2 + col("q"))).as("u_x2"),
          sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"))
        .select(col("n_pos"), col("n_neg"), col("u_x2"),
          expr("(1000000 * u_x2) div (2 * n_pos * n_neg)").as("auc_ppm"))
    }),

    // Two-sample Kolmogorov-Smirnov drift statistic (exact): the max
    // gap between the benchmark source's and the rest-of-corpus's
    // empirical CDFs of document length — the distribution-free drift
    // test next to PSI (q119 needs binning; KS doesn't). Exact-integer:
    // the running counts cross-multiply (|ca·n_b − cb·n_a|) so no CDF
    // ever divides. The classic KS cost is a global sort; this is its
    // scale form (r7 verdict item 5 — the corpus-sized unpartitioned
    // window is gone): the corpus collapses FIRST to the distinct-
    // length histogram (KS's peer-inclusive RANGE frame means D only
    // moves at distinct values, so the per-value grain is exact, not
    // an approximation), then cumulative counts come from
    // ops.BucketedPrefix.runningSums — the two-phase prefix scan over
    // VALUE-based buckets (within-bucket windows PARTITIONED by
    // bucket, bucket-prefix offsets via a bounded triangular join;
    // q258/q259 share the op). No single-partition WindowExec anywhere
    // in the plan (PlanSpec-pinned); every stage after the first
    // groupBy is histogram- or bucket-sized.
    "q178_ks_drift" -> ((s, d) => {
      val hist = graft.ops.TransientCache.persist(
        Tables.documents(s, d)
          .groupBy(col("n_chars").cast("long").as("v"))
          .agg(
            sum(when(col("source") === "src0", 1L).otherwise(0L)).as("sa"),
            sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("sb")))
      val cum = graft.ops.BucketedPrefix
        .runningSums(hist, "v", Seq("sa", "sb"), 256L)
        .select(col("run_sa").as("ca"), col("run_sb").as("cb"))
      val tot = hist.agg(sum(col("sa")).as("n_a"), sum(col("sb")).as("n_b"))
      val dmax = cum.crossJoin(broadcast(tot))
        .select(abs(col("ca") * col("n_b") - col("cb") * col("n_a")).as("dn"))
        .agg(max(col("dn")).as("d_num"))
      tot.crossJoin(dmax)
        .select(col("n_a"), col("n_b"), col("d_num"),
          expr("(1000000 * d_num) div (n_a * n_b)").as("ks_d_ppm"))
    }),

    // Incremental JOIN-view maintenance — the join half of the identity
    // q126 proved for aggregates: with both sides of lineitem ⋈ orders
    // receiving independent appends (ΔL = high line numbers, ΔO = every
    // 5th order — deliberately NOT aligned, so every delta term is
    // exercised), the maintained view is
    //   V' = agg( L₀⋈O₀  ∪  L₀⋈ΔO  ∪  ΔL⋈O₀  ∪  ΔL⋈ΔO )
    // — the classic delta-join decomposition (Blakeley et al. 1986,
    // re-expressed as four Spark joins + one merge agg). The oracle
    // recomputes the view from the FULL join, so the compare IS
    // maintenance ≡ recompute. 100 TB shape: each delta term joins a
    // DELTA-sized side (broadcastable in practice) against stored
    // state; only the O₀⋈L₀ base is big, and a real pipeline has it as
    // stored state (the bench cold pass charges the rebuild; here all
    // four terms compute live because the identity, not the caching,
    // is what's under test). Cents-exact, additive partials only.
    "q213_join_view_maint" -> ((s, d) => {
      val l = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("cents"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val (l0, dl) = (l.where(col("l_linenumber") < 4),
        l.where(col("l_linenumber") >= 4))
      val (o0, dob) = (o.where(col("o_orderkey") % 5 =!= 0),
        o.where(col("o_orderkey") % 5 === 0))
      def term(ll: org.apache.spark.sql.DataFrame,
               oo: org.apache.spark.sql.DataFrame) =
        ll.join(oo, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("cents"))
      Seq(term(l0, o0), term(l0, dob), term(dl, o0), term(dl, dob))
        .reduce(_ unionByName _)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n_items")).as("n_items"), sum(col("cents")).as("cents"))
        .orderBy(col("o_custkey"))
    }),

    // Exact Mann-Whitney U (Wilcoxon rank-sum) between src0's quality
    // and the rest of the corpus — the LOCATION-shift companion to
    // q178's KS (which is distribution-shape): U counts cross-source
    // pairs where src0 wins, ties at half weight. NOT computed by
    // ranking the corpus (a global rank is a single-partition sort):
    // quality is a BOUNDED INTEGER (−50..100 by construction), so one
    // (quality, source) histogram groupBy reduces the corpus to ≤151
    // rows and U folds from cumulative counts over that value domain —
    // doubled (u2 = 2·U) so tie-halves stay BIGINT. auc_ppm =
    // U/(n_a·n_b) is the two-sample AUC / common-language effect size;
    // 500000 = no shift, the H0 anchor (2·E[U] = n_a·n_b) rides along.
    "q212_mannwhitney_u" -> ((s, d) => {
      val prof = ExtQueries.docProfile(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")
          .as("src")), "doc_id")
        .select(col("quality"),
          when(col("src") === "src0", 1L).otherwise(0L).as("ia"),
          when(col("src") =!= "src0", 1L).otherwise(0L).as("ib"))
      val hist = prof.groupBy(col("quality"))
        .agg(sum(col("ia")).as("na"), sum(col("ib")).as("nb"))
      val w = Window.orderBy(col("quality"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("cb", coalesce(sum(col("nb")).over(w), lit(0L)))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(lit(2L) * col("na") * col("cb") + col("na") * col("nb"))
            .as("u2"))
        .select(col("n_a"), col("n_b"), col("u2"),
          (col("n_a") * col("n_b")).as("u2_expected"),
          expr("CAST((1000000 * u2) DIV (2 * n_a * n_b) AS BIGINT)")
            .as("auc_ppm"))
    }),

    // Quantile-quantile drift between the two halves of the event
    // timeline — the full displacement profile q178's single KS max
    // cannot show (a tail-only shift and a median shift have the same
    // D but opposite remedies). Period split is VALUE-based (epoch-us
    // midpoint of min/max — no sort, q207's checkpoint discipline);
    // quantiles are exact interpolations at binary fractions
    // (.25/.5/.75/.875) over milli-quantized BIGINTs — every
    // interpolation op is exact in IEEE double (the q57 parity
    // precedent), so both engines produce identical bits.
    "q220_qq_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
      val mid = ev.agg(expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)")
        .as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .withColumn("period", when(col("us") < col("mid"), "a").otherwise("b"))
        .groupBy(col("event_type"), col("period"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.875D))").as("p"))
      def leg(suffix: String) = per.where(col("period") === suffix)
        .select(col("event_type"), col("n").as(s"n_$suffix"),
          element_at(col("p"), 1).as(s"p25_$suffix"),
          element_at(col("p"), 2).as(s"p50_$suffix"),
          element_at(col("p"), 3).as(s"p75_$suffix"),
          element_at(col("p"), 4).as(s"p875_$suffix"))
      leg("a").join(leg("b"), "event_type")
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("p25_a"), col("p25_b"), (col("p25_b") - col("p25_a")).as("d25"),
          col("p50_a"), col("p50_b"), (col("p50_b") - col("p50_a")).as("d50"),
          col("p75_a"), col("p75_b"), (col("p75_b") - col("p75_a")).as("d75"),
          col("p875_a"), col("p875_b"),
          (col("p875_b") - col("p875_a")).as("d875"))
        .orderBy(col("event_type"))
    }),

    // Lead-lag regression between event-type daily series — WHICH
    // metric leads which, the cross-series question the per-series
    // monitors (q171/q172/q209) cannot ask: for every ordered type pair
    // and lag 0..3 days, the OLS slope of y's day-(t+lag) value on x's
    // day-t value. Integer-exact on the q90 discipline: daily sums
    // quantized to whole units (DIV 1000 — deterministic), deviations
    // from a per-TYPE broadcast anchor (ANY constant anchor keeps the
    // n·Σab − Σa·Σb identity exact, so the per-type floor mean serves
    // every pair and lag), moments enveloped by un-overflowable
    // max-deviation witnesses before any product is trusted. The lag
    // join is epoch-microsecond arithmetic (86 400 000 000·lag), exact
    // in both engines. Days are time-bounded, types enumerable: the
    // pair×lag table is tiny at any corpus scale; the one real pass is
    // the daily grain groupBy.
    "q215_leadlag" -> ((s, d) => {
      val daily = dailyAgg(Tables.events(s, d))
        .select(col("event_type").as("typ"), col("day"),
          expr("CAST(value_q DIV 1000 AS BIGINT)").as("x"))
      val anchors = daily.groupBy(col("typ"))
        .agg(expr("sum(x) div count(*)").as("ax"))
      val dv = graft.ops.TransientCache.persist(
        daily.join(broadcast(anchors), "typ")
          .select(col("typ"), unix_micros(col("day")).as("us"),
            (col("x") - col("ax")).as("dx")))
      val lags = s.range(0, 4).select(col("id").cast("long").as("lag"))
      val st = dv.as("a").crossJoin(broadcast(lags))
        .join(dv.as("b"),
          col("a.typ") < col("b.typ") &&
            col("b.us") === col("a.us") + col("lag") * lit(86400000000L))
        .groupBy(col("a.typ").as("type_x"), col("b.typ").as("type_y"),
          col("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("a.dx")).as("sa"), sum(col("b.dx")).as("sb"),
          sum(col("a.dx") * col("b.dx")).as("sab"),
          sum(col("a.dx") * col("a.dx")).as("saa"),
          sum(col("b.dx") * col("b.dx")).as("sbb"),
          max(abs(col("a.dx"))).as("mda"), max(abs(col("b.dx"))).as("mdb"))
        .withColumn("n_days", col("n_days") + coalesce(
          assert_true(
            col("n_days").cast("double") *
              greatest(col("mda").cast("double") * col("mda").cast("double"),
                col("mdb").cast("double") * col("mdb").cast("double"),
                col("mda").cast("double") * col("mdb").cast("double"))
              * lit(1001.0) < lit(4.6e18),
            lit("q215 moments would overflow int64: sub-split the series"))
            .cast("long"), lit(0L)))
      st.select(col("type_x"), col("type_y"), col("lag"), col("n_days"),
          (col("n_days") * col("sab") - col("sa") * col("sb")).as("cov_n"),
          (col("n_days") * col("saa") - col("sa") * col("sa")).as("varx_n"),
          (col("n_days") * col("sbb") - col("sb") * col("sb")).as("vary_n"))
        .withColumn("slope_milli", when(col("varx_n") > 0,
          expr("CAST((1000 * cov_n) DIV varx_n AS BIGINT)")).otherwise(lit(0L)))
        .orderBy(col("type_x"), col("type_y"), col("lag"))
    }),

    // Theil–Sen robust trend (Theil 1950; Sen 1968): per daily series,
    // the LOWER MEDIAN of all pairwise slopes — a 29%-breakdown
    // estimator where one corrupted day moves OLS arbitrarily but the
    // pairwise-slope median not at all. OLS (the q215 anchored-moment
    // machinery) sits alongside: the ts-vs-ols gap IS the outlier
    // signal. Slopes quantize to milli-units/day by one IEEE floor
    // (operands exact below 2^53, double division correctly rounded —
    // both engines floor the same quotient, the q57 precedent); the
    // lower-median rule keeps the output a REAL pairwise slope, never
    // an average of two. Pairs are days² per series (bounded,
    // broadcast-scale) — never corpus²; at 100 TB the heavy grain
    // stays (series, day), exactly like q215.
    "q227_theilsen" -> ((s, d) => {
      val daily = graft.ops.TransientCache.persist(
        dailyAgg(Tables.events(s, d))
          .select(col("event_type"),
            expr("CAST(unix_micros(day) DIV 86400000000 AS BIGINT)").as("didx"),
            col("value_q").as("vq")))
      // Per-series anchors (min day, floor-mean value) keep the OLS
      // moments deviation-sized — the q90/q215 overflow discipline.
      val anch = daily.groupBy(col("event_type"))
        .agg(min(col("didx")).as("d0"),
          expr("sum(vq) DIV count(*)").as("v0"),
          count(lit(1)).as("n_days"))
      val dv = daily.join(broadcast(anch), "event_type")
        .select(col("event_type"), (col("didx") - col("d0")).as("x"),
          (col("vq") - col("v0")).as("y"))
      val ols = dv.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          max(abs(col("x"))).as("mx"), max(abs(col("y"))).as("my"))
        // a-priori bound from un-overflowable inputs (n, max|x|, max|y|) —
        // the q90/q215 envelope: proves the scaled moment combination
        // below never wrapped before it is computed.
        .withColumn("n", col("n") + coalesce(
          assert_true(
            col("n").cast("double") * col("n").cast("double") *
              greatest(col("mx").cast("double") * col("my").cast("double"),
                col("mx").cast("double") * col("mx").cast("double")) *
              lit(2002.0) < lit(9.2e18),
            lit("q227 OLS moments would overflow int64: sub-split the series"))
            .cast("long"), lit(0L)))
        .select(col("event_type"),
          expr("CAST((1000 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx) " +
            "AS BIGINT)").as("ols_slope_milli"))
      val slopes = dv.as("a").join(dv.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.x") < col("b.x"))
        .select(col("a.event_type").as("event_type"),
          expr("CAST(floor((1000.0 * CAST(b.y - a.y AS DOUBLE)) / " +
            "CAST(b.x - a.x AS DOUBLE)) AS BIGINT)").as("sl"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("sl"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      slopes
        .withColumn("rn", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over(wp))
        .where(col("rn") === expr("(n_pairs + 1) DIV 2"))
        .select(col("event_type"), col("n_pairs"),
          col("sl").as("ts_slope_milli"))
        .join(broadcast(anch.select(col("event_type"), col("n_days"))),
          "event_type")
        .join(ols, "event_type")
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("ts_slope_milli"), col("ols_slope_milli"))
        .orderBy(col("event_type"))
    }),

    // Z-order layout audit: would a Morton-clustered rewrite of the
    // fact table pay for itself? Both layouts simulated at 64 equal-
    // count files; the zone-map (per-file min/max of l_partkey /
    // l_suppkey — exactly what Parquet row groups and lakehouse
    // manifests store) decides which files a (partkey, suppkey) box
    // predicate must read under each. files_read under 'natural' vs
    // 'zorder' is the MEASURED scan saving of the rewrite — the 100 TB
    // decision number, computed before paying for the rewrite. All
    // integer: Morton key = shift/mask/add, bounds enforced in-plan.
    "q230_zorder_skipping" -> ((s, d) =>
      graft.ext.Layout.zoneMapAudit(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", Seq("l_orderkey", "l_linenumber"),
        64, 1L, 200L, 1L, 20L)),

    // Top event PATHS (length-3 sequences) — the product-analytics
    // "what do users actually do" table one step deeper than q78's
    // transition matrix: two lead() columns over the per-user order,
    // one aggregate, top-20. The path table is states³-bounded.
    "q179_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
          col("e3").as("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    }),

    // k-anonymity audit (Sweeney 2002) over a generalization ladder —
    // the privacy QC a pipeline runs before releasing / training on
    // user-adjacent rows: level 0 = (nation, segment, balance-band),
    // level 1 drops the band, level 2 keeps only the segment. ONE
    // grouping-sets pass (single shuffle) computes every equivalence
    // class at all three grains; per level we report the k-anonymity
    // actually achieved (min class size) and the suppression a k=10
    // release would need (rows in classes below k). All integers; the
    // band is floor(acctbal/1000) — one correctly-rounded double op.
    "q232_k_anonymity" -> ((s, d) => {
      val c = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("band"))
      val cls = c.groupingSets(
          Seq(Seq(col("nat"), col("seg"), col("band")),
            Seq(col("nat"), col("seg")), Seq(col("seg"))),
          col("nat"), col("seg"), col("band"))
        .agg(count(lit(1)).as("cls_n"), grouping_id().as("gid"))
      cls.groupBy(expr("CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END")
          .cast("int").as("level"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("cls_n")).as("k_anonymity"),
          sum(when(col("cls_n") < 10, 1L).otherwise(0L))
            .as("classes_below_k"),
          sum(when(col("cls_n") < 10, col("cls_n")).otherwise(0L))
            .as("rows_below_k"),
          sum(col("cls_n")).as("n_rows"))
        .withColumn("suppression_ppm",
          expr("(1000000 * rows_below_k) DIV n_rows"))
        .select(col("level"), col("n_classes"), col("k_anonymity"),
          col("classes_below_k"), col("rows_below_k"),
          col("suppression_ppm"))
        .orderBy(col("level"))
    }),

    // Skyline / Pareto frontier (Börzsönyi et al. 2001) over per-
    // customer value: the multi-criteria "best customers" query no
    // single ORDER BY can answer — maximize lifetime spend, order
    // count, and recency simultaneously; a customer survives iff no
    // other is >= on all three and > on one. One aggregation shuffle,
    // then ext.Skyline's two-phase distributed pass (local sort-
    // filter-skyline per partition — dominance transitivity makes the
    // local pass lossless — then one merge over the output-sized
    // survivors). All-BIGINT dims: cents, counts, epoch days.
    "q233_skyline_customers" -> ((s, d) => {
      val agg = Tables.orders(s, d)
        .groupBy(col("o_custkey").cast("long").as("cust"))
        .agg(
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("spent_cents"),
          count(lit(1)).as("n_orders"),
          datediff(to_date(max(col("o_orderdate"))),
            to_date(lit("1992-01-01"))).cast("long").as("last_day"))
      Skyline.skylineMax(agg, Seq("spent_cents", "n_orders", "last_day"))
        .select(col("cust"), col("spent_cents"), col("n_orders"),
          col("last_day"))
        .orderBy(col("spent_cents").desc, col("cust"))
    }),

    // l-diversity audit (Machanavajjhala et al. 2006) — k-anonymity's
    // (q232) complement: a large equivalence class is still a full
    // disclosure if the SENSITIVE attribute is constant inside it.
    // QI = (nation, balance-band); sensitive = market segment. Per
    // class: l = distinct sensitive values, top share = the modal
    // segment's share (the adversary's posterior). Output is the l
    // histogram — classes/rows at each diversity level plus the worst
    // modal share (ppm) — l=1 rows are the disclosures. Two map-side-
    // combinable shuffles (class×seg → class → l); everything after
    // the first aggregate is class-count-sized.
    "q234_l_diversity" -> ((s, d) => {
      val cell = Tables.customer(s, d).groupBy(
          col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000).cast("long").as("band"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("sc"))
      val cls = cell.groupBy(col("nat"), col("band"))
        .agg(sum(col("sc")).as("cls_n"), count(lit(1)).as("l"),
          max(col("sc")).as("top_cnt"))
        .withColumn("top_share_ppm", expr("(1000000 * top_cnt) DIV cls_n"))
      cls.groupBy(col("l"))
        .agg(count(lit(1)).as("n_classes"), sum(col("cls_n")).as("n_rows"),
          max(col("top_share_ppm")).as("worst_top_share_ppm"))
        .orderBy(col("l"))
    }),

    // t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): even
    // a diverse class leaks if its sensitive DISTRIBUTION diverges from
    // the global one. QI = (nation, segment); sensitive ORDERED
    // attribute = balance band. t = Earth Mover's Distance between the
    // class and global band distributions — for a 1-D ordered attribute
    // EMD is the mean |cumulative-share gap|, kept integer-exact by
    // cross-multiplying the two denominators:
    //   t_ppm = 10^6·Σ_j|cum_c(j)·N − cum_g(j)·n_c|
    //           DIV ((B−1)·n_c·N).
    // The band grid is VALUE-RANGE-bounded (B ≈ 12 whatever the row
    // count), so the per-class dense grid — classes × broadcast band
    // table, missing bands contributing their full cumulative gap — is
    // model-sized at any scale; the only full-data passes are the
    // three leading aggregates. int64 envelope enforced in the plan
    // (q90 pattern).
    "q235_t_closeness" -> ((s, d) => {
      val base = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("band"))
      val classes = base.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).as("cls_n"))
      val cell = base.groupBy(col("nat"), col("seg"), col("band"))
        .agg(count(lit(1)).as("cc"))
      // Global band cumulative counts: the window runs over the
      // B-row band table, not the data.
      val gcum = base.groupBy(col("band")).agg(count(lit(1)).as("gc"))
        .withColumn("gcum", sum(col("gc")).over(Window.orderBy(col("band"))))
        .select(col("band"), col("gcum"))
      val consts = gcum.agg(max(col("gcum")).as("n_tot"),
        count(lit(1)).as("n_bands"))
      val wcls = Window.partitionBy(col("nat"), col("seg"))
        .orderBy(col("band"))
      val cum = classes.crossJoin(broadcast(gcum))
        .join(cell, Seq("nat", "seg", "band"), "left")
        .na.fill(0L, Seq("cc"))
        .withColumn("ccum", sum(col("cc")).over(wcls))
      cum.crossJoin(broadcast(consts))
        .groupBy(col("nat"), col("seg"), col("cls_n"), col("n_tot"),
          col("n_bands"))
        .agg(sum(abs(col("ccum") * col("n_tot") - col("gcum") * col("cls_n")))
          .as("emd_num"))
        // A-priori wraparound envelope (q90 discipline): every |term|
        // ≤ n_c·N and there are B of them, so 10^6·B·n_c·N < 2^63
        // proves both the sum and the final scaled numerator exact.
        .withColumn("cls_n", col("cls_n") + coalesce(
          assert_true(
            lit(1.0e6) * col("n_bands").cast("double") *
              col("cls_n").cast("double") * col("n_tot").cast("double")
              < lit(4.6e18),
            lit("q235 EMD numerator would overflow int64: rescale shares"))
            .cast("long"),
          lit(0L)))
        .withColumn("t_ppm", expr(
          "(1000000 * emd_num) DIV (greatest(n_bands - 1, 1) * cls_n * n_tot)"))
        .select(col("nat"), col("seg"), col("cls_n"), col("t_ppm"))
        .orderBy(col("t_ppm").desc, col("nat"), col("seg"))
        .limit(20)
    }),

    // Fagin's Threshold Algorithm early-termination audit (Fagin,
    // Lotem & Naor, PODS 2001): top-k by a monotone combined score
    // (lifetime spend + recency bonus) WITHOUT scanning the corpus —
    // walk the two per-attribute ranked lists in parallel; at depth d
    // the threshold T(d) = s1(d) + s2(d) bounds every unseen row, so
    // once the k-th best SEEN combined score exceeds T(d) (strict >,
    // so the deterministic tiebreak can't be ambushed by an unseen
    // tie) the scan may stop. The whole simulation runs on the two
    // depth-capped lists (D = 500, a contract cap the oracle shares;
    // TakeOrdered builds them distributed — no global window touches
    // the corpus). Output: the top-k (computed by FULL scan — so the
    // oracle independently verifies TA's guarantee) + the measured
    // stop depth, seen-set size, scanned ppm, and the guarantee check
    // (top-k ∩ seen = k). On the fixture TA stops at depth 11 having
    // touched 1.5% of candidates — the number that says a 100 TB
    // ranked retrieval should walk postings, not scan.
    "q236_ta_topk_audit" -> ((s, d) => {
      val K = 10; val D = 500
      val scored = Tables.orders(s, d)
        .groupBy(col("o_custkey").cast("long").as("cust"))
        .agg(
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("s1"),
          (datediff(to_date(max(col("o_orderdate"))),
            to_date(lit("1992-01-01"))).cast("long") * 10000L).as("s2"))
        .withColumn("c", col("s1") + col("s2"))
      val w1 = Window.orderBy(col("s1").desc, col("cust"))
      val w2 = Window.orderBy(col("s2").desc, col("cust"))
      val top1 = scored.orderBy(col("s1").desc, col("cust")).limit(D)
        .withColumn("r1", row_number().over(w1))
      val top2 = scored.orderBy(col("s2").desc, col("cust")).limit(D)
        .withColumn("r2", row_number().over(w2))
      val cands = top1.select(col("cust"), col("c"), col("r1"))
        .join(top2.select(col("cust").as("cust2"), col("c").as("c2"),
          col("r2")), col("cust") === col("cust2"), "full")
        .select(coalesce(col("cust"), col("cust2")).as("cust"),
          coalesce(col("c"), col("c2")).as("c"),
          least(coalesce(col("r1"), lit(D + 1)),
            coalesce(col("r2"), lit(D + 1))).as("m"))
      val depths = top1.select(col("r1").as("dep"), col("s1").as("t1"))
        .join(top2.select(col("r2").as("dep"), col("s2").as("t2")), Seq("dep"))
        .select(col("dep"), (col("t1") + col("t2")).as("thr"))
      // k-th best seen combined score at every depth: a capped
      // depths×cands expansion (≤ D·|cands| rows by contract).
      val kth = depths.join(cands, col("m") <= col("dep"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("dep")).orderBy(col("c").desc, col("cust"))))
        .filter(col("rk") === K)
        .select(col("dep"), col("thr"), col("c").as("kth_c"))
      val stop = kth.filter(col("kth_c") > col("thr"))
        .agg(min(col("dep")).cast("long").as("stop_depth"))
      val seen = cands.crossJoin(broadcast(stop))
        .filter(col("m") <= col("stop_depth"))
        .agg(count(lit(1)).as("seen_n"))
      val gk = scored.orderBy(col("c").desc, col("cust")).limit(K)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("c").desc, col("cust"))).cast("long"))
      val taIn = gk.select(col("cust").as("gcust"))
        .join(cands, col("gcust") === col("cust"))
        .crossJoin(broadcast(stop))
        .filter(col("m") <= col("stop_depth"))
        .agg(count(lit(1)).as("ta_topk_in_seen"))
      val corpus = scored.agg(count(lit(1)).as("corpus_n"))
      val audit = stop.crossJoin(seen).crossJoin(corpus).crossJoin(taIn)
        .withColumn("scanned_ppm", expr("(1000000 * seen_n) DIV corpus_n"))
      gk.select(col("rnk"), col("cust"), col("c").as("combined"))
        .crossJoin(broadcast(audit))
        .select(col("rnk"), col("cust"), col("combined"), col("stop_depth"),
          col("seen_n"), col("corpus_n"), col("scanned_ppm"),
          col("ta_topk_in_seen"))
        .orderBy(col("rnk"))
    }),

    // Sample-and-scale AQP error audit (the BlinkDB contract, Agarwal
    // et al. 2013, on the engine's md5-draw discipline): a
    // deterministic 1/16 sample (first md5 hex nibble = '0' — the
    // Sampling.draw algebra, bit-reproducible in any md5 engine), the
    // Horvitz-Thompson ×16 scale-up, and the TRUE relative error
    // against the exact aggregate, per group — both computed in ONE
    // conditional-aggregation pass (single shuffle, map-side partials).
    // The number a pipeline needs before it trusts a sampled dashboard
    // at 100 TB, measured instead of assumed.
    "q237_aqp_error" -> ((s, d) => {
      aqpRegisters(Tables.events(s, d))
        .withColumn("n_est", col("n_sample") * 16L)
        .withColumn("sum_est", col("sum_sample") * 16L)
        .withColumn("err_cnt_ppm",
          expr("(1000000 * abs(n_est - n_exact)) DIV n_exact"))
        .withColumn("err_sum_ppm",
          expr("(1000000 * abs(sum_est - sum_exact)) DIV greatest(abs(sum_exact), 1)"))
        .select(col("event_type"), col("n_exact"), col("n_est"),
          col("err_cnt_ppm"), col("sum_exact"), col("sum_est"),
          col("err_sum_ppm"))
        .orderBy(col("event_type"))
    }),

    // Greedy cube materialization (Harinarayan, Rajaraman & Ullman,
    // SIGMOD 1996) — WHICH cuboids to pre-aggregate, decided from
    // measured sizes instead of guessed: one grouping-sets pass over
    // the (nation, segment, year) star computes the exact row count of
    // all 2³ cuboids (a second tiny aggregate counts groups per gid),
    // then the paper's greedy — each step picks the view whose
    // materialization saves the most total answer cost, provably
    // within (1−1/e) of optimal — chooses 3 views beyond the
    // always-kept top. The lattice is dimension-count-sized (8 rows at
    // ANY data scale), so the driver crossing is model-sized; the
    // oracle is the same greedy unrolled as three SQL stages. This is
    // the decision procedure behind the engine's session pre-aggregate
    // (q02/q126) made first-class.
    "q238_cube_greedy" -> ((s, d) => {
      val names = Map(0L -> "()", 1L -> "yr", 2L -> "seg", 3L -> "seg,yr",
        4L -> "nat", 5L -> "nat,yr", 6L -> "nat,seg", 7L -> "nat,seg,yr")
      val base = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"), year(col("o_orderdate")).as("yr"))
      val cub = base.groupingSets(
          Seq(Seq(col("nat"), col("seg"), col("yr")),
            Seq(col("nat"), col("seg")), Seq(col("nat"), col("yr")),
            Seq(col("seg"), col("yr")), Seq(col("nat")), Seq(col("seg")),
            Seq(col("yr")), Seq.empty),
          col("nat"), col("seg"), col("yr"))
        .agg(grouping_id().as("gid"))
      val sizes = cub.groupBy((lit(7) - col("gid")).cast("long").as("mask"))
        .agg(count(lit(1)).as("v_size"))
        .collect() // exactly 2^3 rows by construction — model-sized
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val picks = CubeLattice.greedyPicks(sizes, 3)
        .map { case (st, m, sz, b, tc) => (st, names(m), m, sz, b, tc) }
      s.createDataFrame(picks)
        .toDF("step", "view_name", "mask", "v_size", "benefit",
          "total_cost")
        .orderBy(col("step"))
    }),

    // Approximate functional-dependency discovery (TANE's g3 metric,
    // Huhtala et al., Comput. J. 1999): for each candidate A → B, the
    // minimum fraction of rows whose removal makes the FD hold —
    // g3 = (N − Σ_a max_b count(a,b)) / N, integer-exact in ppm. The
    // schema-profiling pass a pipeline runs before trusting a column
    // as a key or a deterministic attribute. Each candidate is two
    // map-side-combinable aggregates on its own key space; candidates
    // union into one result (5 independent branches, no cross-table
    // joins). o_orderkey → o_orderstatus doubles as the key check
    // (g3 = 0 ⟺ A is a key prefix for B).
    "q239_fd_discovery" -> ((s, d) => {
      def g3(df: DataFrame, lhs: String, rhs: String, dep: String)
          : DataFrame =
        df.groupBy(col(lhs).as("a"), col(rhs).as("b"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("a"))
          .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
          .agg(sum(col("mx")).as("keep"), sum(col("tot")).as("n_rows"))
          .select(lit(dep).as("dep"), col("n_rows"),
            (col("n_rows") - col("keep")).as("violations"))
      Seq(
        g3(Tables.orders(s, d), "o_custkey", "o_orderpriority",
          "orders: o_custkey -> o_orderpriority"),
        g3(Tables.orders(s, d), "o_orderkey", "o_orderstatus",
          "orders: o_orderkey -> o_orderstatus"),
        g3(Tables.customer(s, d), "c_nationkey", "c_mktsegment",
          "customer: c_nationkey -> c_mktsegment"),
        g3(Tables.events(s, d), "user_id", "event_type",
          "events: user_id -> event_type"),
        g3(Tables.documents(s, d), "source", "lang",
          "documents: source -> lang"))
        .reduce(_ unionByName _)
        .withColumn("g3_ppm", expr("(1000000 * violations) DIV n_rows"))
        .withColumn("holds", (col("violations") === 0L).cast("int"))
        .select(col("dep"), col("n_rows"), col("violations"),
          col("g3_ppm"), col("holds"))
        .orderBy(col("dep"))
    }),

    // V-optimal histogram (Jagadish et al., VLDB 1998) over the
    // balance-band frequency vector: the synopsis an optimizer keeps
    // for selectivity estimation, built by the paper's exact DP
    // instead of equi-width guessing. The frequency vector is
    // value-range-bounded (11 bands at any row count), so the DP is
    // model-sized driver work (q238 discipline); the oracle is the
    // SAME DP unrolled as three SQL join stages with the identical
    // (err, k) tiebreak. Integer-exact: each segment's SSE is scaled
    // by LCM(1..16)/len so bucketings compare in exact int64.
    "q240_voptimal_histogram" -> ((s, d) => {
      val bands = Tables.customer(s, d)
        .groupBy(floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("band"))
        .collect() // ≤16 rows by value range — model-sized
      val (buckets, total) =
        VOptHistogram.fit(bands.map(_.getLong(1)).toSeq, 4)
      val rows = buckets.map(b => (b.bucket,
        bands(b.loIdx - 1).getLong(0), bands(b.hiIdx - 1).getLong(0),
        b.nRows, b.sseScaled, total))
      s.createDataFrame(rows)
        .toDF("bucket", "lo_band", "hi_band", "n_rows", "sse_scaled",
          "total_sse_scaled")
        .orderBy(col("bucket"))
    }),

    // Synopsis selectivity-error audit — the reason q240 exists,
    // measured: equi-width, equi-depth (Piatetsky-Shapiro & Connell
    // 1984) and V-optimal (Jagadish et al. 1998) histograms built over
    // the SAME band frequency vector, then every prefix-range query
    // (band ≤ t for each of the V thresholds) estimated under the
    // uniform-spread assumption and compared to the exact cumulative
    // count. Reported per histogram: mean and worst absolute error
    // (ppm of N). All boundary rules are cross-multiplied integer
    // contracts (SynopsisAudit scaladoc) that the oracle restates
    // literally, so the three bucketings are bit-identical in both
    // engines. Model-sized driver work after one band aggregate.
    "q241_synopsis_error" -> ((s, d) => {
      val bands = Tables.customer(s, d)
        .groupBy(floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("band"))
        .collect() // ≤16 rows by value range — model-sized
      val f = bands.map(_.getLong(1)).toIndexedSeq
      val v = f.length
      val n = f.sum
      val cf = f.scanLeft(0L)(_ + _).toIndexedSeq
      def segSum(lo: Int, hi: Int): Long = cf(hi) - cf(lo - 1)
      val hists = Seq(
        "equi_depth" -> SynopsisAudit.equiDepth(cf, 4),
        "equi_width" -> SynopsisAudit.equiWidth(v, 4),
        "v_optimal" -> VOptHistogram.fit(f, 4)._1
          .map(b => (b.loIdx, b.hiIdx)))
      val rows = hists.map { case (name, bks) =>
        val errs = (1 to v).map(t =>
          math.abs(SynopsisAudit.prefixEstimate(bks, segSum, t) - cf(t)))
        (name, v.toLong, (1000000L * errs.sum) / (v.toLong * n),
          errs.map(e => 1000000L * e / n).max)
      }
      s.createDataFrame(rows)
        .toDF("hist", "n_queries", "mean_abs_err_ppm", "max_abs_err_ppm")
        .orderBy(col("hist"))
    }),

    // Selinger join-order cost audit (Selinger et al., SIGMOD 1979)
    // with EXACT intermediate cardinalities: every connected interval
    // of the region–nation–customer(BUILDING)–orders chain is counted
    // for real (ten distributed count aggregates — the audit's point
    // is measured, not estimated, sizes), then all 8 connected
    // left-deep orders are costed as Σ intermediate-result rows and
    // ranked. The plan-space spread (best vs worst order) is the
    // number that justifies an optimizer at 100 TB; the subset
    // lattice is relation-count-sized, so the driver crossing is ten
    // integers. Orders whose prefixes make identical interval sets
    // tie exactly and break on the order label.
    "q242_join_order_audit" -> ((s, d) => {
      val r = Tables.region(s, d)
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val rn = r.join(n, col("r_regionkey") === col("n_regionkey"))
      val nc = n.join(c, col("n_nationkey") === col("c_nationkey"))
      val co = c.join(o, col("c_custkey") === col("o_custkey"))
      val rnc = rn.join(c, col("n_nationkey") === col("c_nationkey"))
      val nco = nc.join(o, col("c_custkey") === col("o_custkey"))
      val rnco = rnc.join(o, col("c_custkey") === col("o_custkey"))
      val sz = Map("RN" -> rn.count(), "NC" -> nc.count(),
        "CO" -> co.count(), "RNC" -> rnc.count(), "NCO" -> nco.count(),
        "RNCO" -> rnco.count())
      val chain = Seq("R", "N", "C", "O")
      val pos = chain.zipWithIndex.toMap
      def interval(pre: Seq[String]): String = {
        val ps = pre.map(pos)
        chain.slice(ps.min, ps.max + 1).mkString
      }
      val orders8 = Seq(
        Seq("R", "N", "C", "O"), Seq("N", "R", "C", "O"),
        Seq("N", "C", "R", "O"), Seq("N", "C", "O", "R"),
        Seq("C", "N", "R", "O"), Seq("C", "N", "O", "R"),
        Seq("C", "O", "N", "R"), Seq("O", "C", "N", "R"))
      val costed = orders8.map { ord =>
        val cost = (2 to 4).map(k => sz(interval(ord.take(k)))).sum
        (ord.mkString(","), cost)
      }.sortBy { case (lbl, cost) => (cost, lbl) }
      val rows = costed.zipWithIndex.map { case ((lbl, cost), i) =>
        (lbl, cost, (i + 1).toLong)
      }
      s.createDataFrame(rows).toDF("ord", "cost_rows", "rnk")
        .orderBy(col("rnk"))
    }),

    // q-gram signature edit-distance join (Gravano et al., VLDB 2001;
    // signature bound per Chaudhuri et al., SSJoin): all name pairs
    // within edit distance k = 2 WITHOUT the quadratic pass the oracle
    // runs. Three lossless necessary conditions chain: (1) signature
    // filter — each string keeps its k·q+1 = 7 globally-rarest grams
    // (an edit destroys ≤ q grams, so ≤ k·q total ⇒ matching pairs
    // MUST share a signature gram); candidates form only inside a
    // signature gram's posting list; (2) length filter |la−lb| ≤ k;
    // (3) bag-count filter Σ least(ca,cb) ≥ max(la,lb) − q + 1 − k·q.
    // Survivors verify with codegen'd levenshtein. The oracle is the
    // textbook quadratic scan — if any filter were wrong, a dropped
    // pair would hash-mismatch. This is q202/q228's prefix-filter
    // discipline instantiated for EDIT distance, the fuzzy-join scale
    // path (posting-list-bounded, never names²).
    "q243_qgram_edit_join" -> ((s, d) => {
      val q = 3; val k = 2
      val nm = graft.ops.TransientCache.persist(
        Tables.part(s, d).select(col("p_name")).distinct()
          .withColumn("len", length(col("p_name")).cast("long")))
      val grams = nm.select(col("p_name"), col("len"),
          explode(expr(
            s"transform(sequence(1, CAST(len AS INT) - ${q - 1}), " +
              s"i -> substring(p_name, i, $q))")).as("gram"))
        .groupBy(col("p_name"), col("len"), col("gram"))
        .agg(count(lit(1)).as("c"))
      val gcnt = graft.ops.TransientCache.persist(grams)
      val df = gcnt.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      val sig = gcnt.join(df, "gram")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("p_name"))
            .orderBy(col("df"), col("gram"))))
        .filter(col("rk") <= k * q + 1)
        .select(col("gram"), col("p_name"), col("len"))
      val cand = sig.as("a").join(sig.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.p_name") < col("b.p_name") &&
            abs(col("a.len") - col("b.len")) <= k)
        .select(col("a.p_name").as("na"), col("a.len").as("la"),
          col("b.p_name").as("nb"), col("b.len").as("lb"))
        .distinct()
      val counted = cand
        .join(gcnt.select(col("p_name").as("na"), col("gram"),
          col("c").as("ca")), Seq("na"))
        .join(gcnt.select(col("p_name").as("nb"), col("gram"),
          col("c").as("cb")), Seq("nb", "gram"))
        .groupBy(col("na"), col("nb"), col("la"), col("lb"))
        .agg(sum(least(col("ca"), col("cb"))).as("shared"))
        .filter(col("shared") >=
          greatest(col("la"), col("lb")) - lit(q - 1) - lit(k * q))
      counted
        .withColumn("ed", levenshtein(col("na"), col("nb")).cast("long"))
        .filter(col("ed") <= k)
        .select(col("na").as("name_a"), col("nb").as("name_b"), col("ed"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // Copeland pairwise-majority rank fusion (Copeland 1951; the
    // Condorcet-method complement to q135/q140's RRF): three integer
    // rankers over documents — size (n_chars), lexical diversity
    // (distinct whitespace tokens), digit load (ascending) — and a
    // document beats another when a MAJORITY of rankers prefer it.
    // Rankings never materialize: ranker preference is a direct
    // metric-tuple comparison with the doc-id tiebreak, so there is no
    // corpus-wide row_number. The pairwise stage runs on the capped
    // candidate pool (union of each ranker's TakeOrdered top-50 —
    // ≤150 docs by contract, the oracle applies the same cap), never
    // docs². Copeland score = wins − losses; with 3 rankers and total
    // tiebreaks every pair is decided.
    "q244_copeland_fusion" -> ((s, d) => {
      val m = Tables.documents(s, d).select(col("doc_id"),
        col("n_chars").cast("long").as("m1"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("m2"),
        (length(col("text")) - length(regexp_replace(col("text"),
          "[0-9]", ""))).cast("long").as("m3"))
      val pool = graft.ops.TransientCache.persist(
        m.orderBy(col("m1").desc, col("doc_id")).limit(50)
          .unionByName(m.orderBy(col("m2").desc, col("doc_id")).limit(50))
          .unionByName(m.orderBy(col("m3").asc, col("doc_id")).limit(50))
          .distinct())
      val a = pool.select(col("doc_id").as("da"), col("m1").as("a1"),
        col("m2").as("a2"), col("m3").as("a3"))
      val b = pool.select(col("doc_id").as("db"), col("m1").as("b1"),
        col("m2").as("b2"), col("m3").as("b3"))
      val pairs = a.join(b, col("da") < col("db"))
        .withColumn("v1", when(col("a1") > col("b1") ||
          (col("a1") === col("b1") && col("da") < col("db")), 1)
          .otherwise(0))
        .withColumn("v2", when(col("a2") > col("b2") ||
          (col("a2") === col("b2") && col("da") < col("db")), 1)
          .otherwise(0))
        .withColumn("v3", when(col("a3") < col("b3") ||
          (col("a3") === col("b3") && col("da") < col("db")), 1)
          .otherwise(0))
        .withColumn("a_wins", (col("v1") + col("v2") + col("v3") >= 2)
          .cast("int"))
      val winsA = pairs.groupBy(col("da").as("doc_id"))
        .agg(sum(col("a_wins")).as("w"), count(lit(1)).as("n"))
      val winsB = pairs.groupBy(col("db").as("doc_id"))
        .agg(sum(lit(1) - col("a_wins")).as("w"), count(lit(1)).as("n"))
      winsA.unionByName(winsB)
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("wins"),
          (sum(col("n")) - sum(col("w"))).as("losses"))
        .withColumn("copeland", col("wins") - col("losses"))
        .select(col("doc_id"), col("wins"), col("losses"), col("copeland"))
        .orderBy(col("copeland").desc, col("doc_id"))
        .limit(20)
    }),

    // Selectivity-independence error audit — the third leg of the
    // optimizer-audit trilogy (q241 synopses, q242 join orders): for
    // every pair of four predicates on orders, the attribute-value-
    // independence estimate sel(A)·sel(B) the Selinger model assumes
    // vs the EXACT conjunctive count, as a cross-multiplied ratio
    // (10⁶·n_ab·n DIV n_a·n_b — 10⁶ = independent, above = positive
    // correlation the model underestimates). ONE conditional-
    // aggregation pass computes all four marginals and six pairwise
    // counts (single scan, map-side partials); the pairs unpivot via
    // stack. The measured answer to "how wrong is independence here".
    "q245_independence_audit" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        (col("o_orderstatus") === "F").cast("long").as("fa"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("fb"),
        (year(col("o_orderdate")) >= 1995).cast("long").as("fc"),
        (col("o_totalprice") >= 100000.0).cast("long").as("fd"))
      val agg = o.agg(count(lit(1)).as("n"),
        sum(col("fa")).as("na"), sum(col("fb")).as("nb"),
        sum(col("fc")).as("nc"), sum(col("fd")).as("nd"),
        sum(col("fa") * col("fb")).as("nab"),
        sum(col("fa") * col("fc")).as("nac"),
        sum(col("fa") * col("fd")).as("nad"),
        sum(col("fb") * col("fc")).as("nbc"),
        sum(col("fb") * col("fd")).as("nbd"),
        sum(col("fc") * col("fd")).as("ncd"))
      agg.select(expr("""stack(6,
          'prio_URGENT*price_ge_100k', nb, nd, nbd,
          'prio_URGENT*year_ge_1995', nb, nc, nbc,
          'status_F*price_ge_100k', na, nd, nad,
          'status_F*prio_URGENT', na, nb, nab,
          'status_F*year_ge_1995', na, nc, nac,
          'year_ge_1995*price_ge_100k', nc, nd, ncd)
          AS (pair, n_a, n_b, n_ab)"""), col("n"))
        .withColumn("est_ab", expr("(n_a * n_b) DIV n"))
        .withColumn("indep_ratio_ppm", expr(
          "CASE WHEN n_a * n_b > 0 THEN (1000000 * n_ab * n) DIV (n_a * n_b) END"))
        .select(col("pair"), col("n_a"), col("n_b"), col("n_ab"),
          col("est_ab"), col("indep_ratio_ppm"))
        .orderBy(col("pair"))
    }),

    // Cramér's V² categorical-association audit (Cramér 1946) — the
    // profiling complement to q239's FDs: per column pair, χ² from
    // the contingency table as the integer contract
    //   χ²_milli = Σ_cells (1000·d²) DIV (ra·cb·n),  d = o·n − ra·cb
    // (floor-before-sum, the q229 discipline — deterministic in any
    // engine), and V² = χ²/(n·min(r−1,c−1)) in ppm. Each pair is one
    // contingency aggregate + two broadcast marginal joins; the cell
    // grid is category-bounded, so everything after the first
    // aggregate is model-sized. The per-cell numerator's int64
    // envelope (1000·d² < 2^63, d ≤ n·min marginal) is ENFORCED
    // in-plan (q90 pattern).
    "q246_cramers_v" -> ((s, d) => {
      def assoc(df: DataFrame, ca: String, cb: String, label: String)
          : DataFrame = {
        val base = df.select(col(ca).cast("string").as("a"),
          col(cb).cast("string").as("b"))
        val cells = base.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("o"))
        val ma = base.groupBy(col("a")).agg(count(lit(1)).as("ra"))
        val mb = base.groupBy(col("b")).agg(count(lit(1)).as("cb"))
        val nn = base.agg(count(lit(1)).as("n"),
          countDistinct(col("a")).as("r_cats"),
          countDistinct(col("b")).as("c_cats"))
        cells.join(broadcast(ma), "a").join(broadcast(mb), "b")
          .crossJoin(broadcast(nn))
          .withColumn("dd", col("o") * col("n") - col("ra") * col("cb"))
          .withColumn("o", col("o") + coalesce(
            assert_true(lit(1.0e3) * col("dd").cast("double")
              * col("dd").cast("double") < lit(4.6e18),
              lit("q246 chi2 cell would overflow int64: rescale counts"))
              .cast("long"), lit(0L)))
          .withColumn("t_milli", expr(
            "(1000 * dd * dd) DIV (ra * cb * n)"))
          .groupBy(col("n"), col("r_cats"), col("c_cats"))
          .agg(sum(col("t_milli")).as("chi2_milli"))
          .select(lit(label).as("pair"), col("n"),
            col("r_cats"), col("c_cats"), col("chi2_milli"),
            expr("(1000 * chi2_milli) DIV (n * least(r_cats - 1, c_cats - 1))")
              .as("v2_ppm"))
      }
      assoc(Tables.orders(s, d), "o_orderstatus", "o_orderpriority",
          "orders: status x priority")
        .unionByName(assoc(Tables.orders(s, d)
            .withColumn("yr", year(col("o_orderdate"))),
          "o_orderstatus", "yr", "orders: status x year"))
        .unionByName(assoc(Tables.customer(s, d), "c_nationkey",
          "c_mktsegment", "customer: nation x segment"))
        .orderBy(col("pair"))
    }),

    // Haar wavelet synopsis with top-k thresholding (Matias, Vitter &
    // Wang, SIGMOD 1998) — the second classic synopsis next to q240's
    // V-optimal histogram, over the same band frequency vector.
    // Unnormalized transform keeps every coefficient in exact int64;
    // Haar orthogonality makes the thresholding error the SUM OF
    // DROPPED ENERGIES d²·2^(8−l) — no reconstruction pass — and that
    // integer energy is the keep/drop ranking (energy DESC, lev, idx),
    // restated literally by the oracle's ranked UNION of the four
    // transform levels. Output: the 4 kept coefficients + the exact
    // scaled SSE the 11 dropped ones cost.
    "q247_wavelet_synopsis" -> ((s, d) => {
      val bands = Tables.customer(s, d)
        .groupBy(floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("band"))
        .collect() // ≤16 rows by value range — model-sized
      val (kept, total, dropped) =
        Wavelet.threshold(bands.map(_.getLong(1)).toSeq, 4)
      val rows = kept.map { case (r, l, i, c, e) =>
        (r.toLong, l.toLong, i.toLong, c, e, total, dropped)
      }
      s.createDataFrame(rows)
        .toDF("rnk", "lev", "idx", "coeff", "energy", "s_total",
          "sse_dropped")
        .orderBy(col("rnk"))
    }),

    // Row-pattern matching (SQL:2016 MATCH_RECOGNIZE-lite): count the
    // browse-to-buy pattern view (click)+ purchase per (user, day) by
    // encoding each bounded day sequence as a code string — one
    // character per event, ordered by (ts, event_id) — and counting
    // non-overlapping leftmost regex matches. The sequence grain is
    // (user, day), so state is day-bounded at any scale (the same
    // sessionize-first discipline as q45/q107); the heavy lifting is
    // one groupBy with a sorted collect into a bounded string, then
    // scan-speed regex. Spark has no MATCH_RECOGNIZE — this is the
    // composition that expresses it.
    "q248_row_pattern" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        date_trunc("day", col("ts")).as("day"), col("ts"),
        col("event_id"),
        expr("""CASE event_type WHEN 'click' THEN 'c'
          WHEN 'error' THEN 'e' WHEN 'purchase' THEN 'p'
          WHEN 'signup' THEN 's' ELSE 'v' END""").as("cd"))
      ev.groupBy(col("user_id"), col("day"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(" +
            "struct(ts, event_id, cd))), x -> x.cd), '')").as("seq"))
        .withColumn("n_matches",
          size(expr("regexp_extract_all(seq, 'vc+p', 0)")).cast("long"))
        .filter(col("n_matches") > 0)
        .withColumn("seq_len", length(col("seq")).cast("long"))
        .select(col("user_id"), col("day"), col("seq"), col("seq_len"),
          col("n_matches"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Length-bucketed batching padding-waste sweep — the dynamic-
    // batching knob a training pipeline tunes, measured: docs sort by
    // token count into k quantile buckets (cross-multiplied rank rule,
    // no division), fixed batches of 8 form INSIDE each bucket in
    // length order, and every batch pads to its max. Swept over
    // k ∈ {1,2,4,8}: waste_ppm = 10⁶·(padded − tokens) DIV padded per
    // k — the curve that says how many buckets buy how much GPU time.
    // The k×docs expansion is 4× one small scan; ranking windows
    // partition by k (audit-scale; at corpus scale the rank is the
    // range-partitioned sort a bucketed writer already does).
    "q249_padding_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      val ks = docs.crossJoin(broadcast(
        s.createDataFrame(Seq(1L, 2L, 4L, 8L).map(Tuple1(_))).toDF("k")))
      // Per-k position via the SHARDED rank (k has 4 values; a per-k
      // window serializes — the r10 q155 shape). The within-bucket slot
      // needs no second window at all: bucket b's first position is
      // ceil(b·n/k)+1 — a closed form of (pos, k, bucket, n_docs) —
      // so slot = pos − ceil(b·n/k).
      val ranked = graft.ops.ShardedRank.withRank(
          ks, Seq("k"), col("tok"), col("doc_id"), "pos")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .withColumn("bucket",
          expr("((pos - 1) * k) DIV n_docs"))
        .withColumn("slot",
          expr("pos - (bucket * n_docs + k - 1) DIV k"))
        .withColumn("batch", expr("(slot - 1) DIV 8"))
      ranked.groupBy(col("k"), col("bucket"), col("batch"))
        .agg(max(col("tok")).as("mx"), count(lit(1)).as("cnt"),
          sum(col("tok")).as("tk"))
        .groupBy(col("k"))
        .agg(sum(col("tk")).as("sum_tokens"),
          sum(col("mx") * col("cnt")).as("padded_tokens"),
          count(lit(1)).as("n_batches"))
        .withColumn("waste_ppm", expr(
          "(1000000 * (padded_tokens - sum_tokens)) DIV padded_tokens"))
        .select(col("k"), col("n_batches"), col("sum_tokens"),
          col("padded_tokens"), col("waste_ppm"))
        .orderBy(col("k"))
    }),

    // Drill-across (Kimball's conformed-dimension join): two FACT
    // tables — orders and events — aggregated independently to the
    // shared day-of-month grain, then full-outer joined so neither
    // fact filters the other. Each fact contributes its own measures
    // plus its ppm share of its own total (cross-multiplied), the
    // payday-cycle comparison a single-fact query cannot make. Two
    // map-side-combinable aggregates + one 31-row join: the conformed
    // grain is value-range-bounded, so the join is broadcast-trivial
    // at any scale.
    "q250_drill_across" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .groupBy(dayofmonth(col("o_orderdate")).cast("long").as("dom"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("revenue_cents"))
      val e = Tables.events(s, d)
        .groupBy(dayofmonth(col("ts")).cast("long").as("dom"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)"))
            .as("event_value_cents"))
      val joined = o.join(e, Seq("dom"), "full")
        .na.fill(0L, Seq("n_orders", "revenue_cents", "n_events",
          "event_value_cents"))
      joined.crossJoin(broadcast(joined.agg(
          sum(col("revenue_cents")).as("tot_rev"),
          sum(col("event_value_cents")).as("tot_ev"))))
        .withColumn("rev_share_ppm",
          expr("(1000000 * revenue_cents) DIV tot_rev"))
        .withColumn("ev_share_ppm",
          expr("(1000000 * event_value_cents) DIV tot_ev"))
        .select(col("dom"), col("n_orders"), col("revenue_cents"),
          col("rev_share_ppm"), col("n_events"),
          col("event_value_cents"), col("ev_share_ppm"))
        .orderBy(col("dom"))
    }),

    // SON two-phase frequent itemsets (Savasere, Omiecinski & Navathe,
    // VLDB 1995 — the MapReduce-era distributed Apriori): baskets =
    // (user, day) distinct event-type sets; phase 1 counts pairs
    // INSIDE each partition (an explicit deterministic shard column —
    // pmod(hash(user), 4) — playing the executor grain) and keeps
    // local-frequents at the scaled threshold (s·n_p) DIV N; phase 2
    // counts ONLY the surviving candidates globally. Pigeonhole makes
    // the candidate set a superset of every globally frequent pair, so
    // the output is EXACT — the oracle computes it with a plain global
    // threshold and must agree bit-for-bit whatever the sharding. At
    // 100 TB phase 1 is map-side work per shard and phase 2 touches
    // candidate pairs only.
    "q251_son_frequent_pairs" -> ((s, d) => {
      val minPpm = 140000L // support threshold: 14% of baskets
      val bask = graft.ops.TransientCache.persist(
        Tables.events(s, d).select(col("user_id"),
            date_trunc("day", col("ts")).as("day"), col("event_type"))
          .distinct()
          .withColumn("pid", pmod(hash(col("user_id")), lit(4))))
      val nTot = bask.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val localN = bask.select(col("pid"), col("user_id"), col("day"))
        .distinct()
        .groupBy(col("pid")).agg(count(lit(1)).as("n_p"))
      val pairs = bask.as("x").join(bask.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.day") === col("y.day") &&
            col("x.event_type") < col("y.event_type"))
        .select(col("x.pid").as("pid"), col("x.user_id").as("u"),
          col("x.day").as("dy"), col("x.event_type").as("ta"),
          col("y.event_type").as("tb"))
      // Pigeonhole: n_ab/N ≥ s ⇒ c_p/n_p ≥ s in at least one shard —
      // cross-multiplied, no division.
      val localFreq = pairs.groupBy(col("pid"), col("ta"), col("tb"))
        .agg(count(lit(1)).as("c_p"))
        .join(broadcast(localN), "pid")
        .filter(col("c_p") * lit(1000000L) >= lit(minPpm) * col("n_p"))
      val cands = localFreq.select(col("ta"), col("tb")).distinct()
      pairs.join(broadcast(cands), Seq("ta", "tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
        .crossJoin(broadcast(nTot))
        .filter(col("n_ab") * lit(1000000L) >= lit(minPpm) * col("n_baskets"))
        .withColumn("support_ppm", expr("(1000000 * n_ab) DIV n_baskets"))
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("n_ab"), col("n_baskets"), col("support_ppm"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Hamilton largest-remainder apportionment (Hamilton 1792; the
    // quota method): split a fixed sampling budget of B = 10 000 slots
    // across sources in proportion to token mass, integer-exactly —
    // floor quotas (B·w_h) DIV W first, then the leftover seats go to
    // the largest cross-multiplied remainders B·w_h − quota·W with the
    // source-name tiebreak. Σ alloc = B by construction (the property
    // divisor methods only approximate); the allocator behind q56/
    // q144's sampling stages made a first-class, auditable operator.
    // One aggregate; everything after is source-count-sized.
    "q252_hamilton_alloc" -> ((s, d) => {
      val b = 10000L
      val w = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long"))
          .as("n_tokens"))
      val tot = w.agg(sum(col("n_tokens")).as("w_tot"),
        count(lit(1)).as("n_sources"))
      val quotas = w.crossJoin(broadcast(tot))
        .withColumn("quota", expr(s"($b * n_tokens) DIV w_tot"))
        .withColumn("rem", expr(s"$b * n_tokens - quota * w_tot"))
      val leftover = quotas.agg((lit(b) - sum(col("quota"))).as("l"))
      quotas.crossJoin(broadcast(leftover))
        .withColumn("rrank", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))).cast("long"))
        .withColumn("extra", (col("rrank") <= col("l")).cast("long"))
        .withColumn("alloc", col("quota") + col("extra"))
        .select(col("source"), col("n_tokens"), col("quota"),
          col("extra"), col("alloc"))
        .orderBy(col("source"))
    }),

    // Posting-list compression planning audit — the index-engineering
    // decision (Elias-Fano vs delta+varint) made from measured bits,
    // not habit: for the 50 highest-df terms, the exact varint size of
    // the d-gap stream (CASE ladder over 2⁷ʲ thresholds) vs the
    // Elias-Fano size n·(2 + ⌊log₂(U/n)⌋) — ⌊log₂⌋ computed EXACTLY as
    // length(bin(x)) − 1, no floating log. Gaps via one per-term lag
    // window over the postings (term-partitioned — the posting list IS
    // the partition); top-50 selection is TakeOrdered by (df, term).
    "q253_postings_compression" -> ((s, d) => {
      val toks = graft.ops.TransientCache.persist(
        Tables.documents(s, d).select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("term"))
          .where(length(col("term")) > 0)
          .distinct())
      val dfT = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), max(col("doc_id")).as("mx"))
      val top = dfT.orderBy(col("df").desc, col("term")).limit(50)
      val wt = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val gaps = toks.join(broadcast(top.select(col("term"))), "term")
        .withColumn("gap", col("doc_id") -
          coalesce(lag(col("doc_id"), 1).over(wt), lit(-1L)))
        .withColumn("vb", expr("""CASE WHEN gap < 128 THEN 1
          WHEN gap < 16384 THEN 2 WHEN gap < 2097152 THEN 3
          WHEN gap < 268435456 THEN 4 ELSE 5 END"""))
      gaps.groupBy(col("term"))
        .agg(sum(col("vb")).cast("long").as("varint_bytes"))
        .join(broadcast(top), "term")
        .withColumn("ef_bits", expr(
          "df * (2 + length(bin((mx + 1) DIV df)) - 1)").cast("long"))
        .withColumn("winner", expr(
          "CASE WHEN varint_bytes * 8 <= ef_bits THEN 'varint' ELSE 'ef' END"))
        .select(col("term"), col("df"), col("varint_bytes"),
          col("ef_bits"), col("winner"))
        .orderBy(col("df").desc, col("term"))
    }),

    // Multi-touch attribution bake-off — first-touch vs last-touch vs
    // linear, the marketing-OLAP model comparison, integer-exact: each
    // purchase carries 1000 milli-credits per model; its touches are
    // the user's non-purchase events in the preceding 24h (a banded
    // range join on user — touch volume is user-day-local, never
    // events²); linear splits 1000 DIV n per touch with the remainder
    // to the LAST touch (contract), so every model sums to exactly
    // 1000·purchases. Untouched purchases credit the 'direct' channel
    // in all three models. One ranked window per purchase decides
    // first/last; the disagreement between columns is the point.
    "q254_attribution_models" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
          col("event_id").as("pid"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("tu"), col("ts").as("tts"),
          col("event_id").as("tid"), col("event_type").as("channel"))
      val pairs = purch.join(touch,
        col("tu") === col("pu") && col("tts") < col("pts") &&
          col("tts") >= col("pts") - expr("INTERVAL 1 DAY"))
      val wAsc = Window.partitionBy(col("pid"))
        .orderBy(col("tts"), col("tid"))
      val ranked = pairs
        .withColumn("rn", row_number().over(wAsc).cast("long"))
        .withColumn("nt", count(lit(1)).over(
          Window.partitionBy(col("pid"))).cast("long"))
      val credited = ranked.select(col("channel"),
        when(col("rn") === 1L, 1000L).otherwise(0L).as("first_milli"),
        when(col("rn") === col("nt"), 1000L).otherwise(0L)
          .as("last_milli"),
        (expr("1000 DIV nt") + when(col("rn") === col("nt"),
          expr("1000 - nt * (1000 DIV nt)")).otherwise(0L))
          .as("linear_milli"))
      val direct = purch.join(
          ranked.select(col("pid")).distinct(), Seq("pid"), "left_anti")
        .select(lit("direct").as("channel"), lit(1000L).as("first_milli"),
          lit(1000L).as("last_milli"), lit(1000L).as("linear_milli"))
      credited.unionByName(direct)
        .groupBy(col("channel"))
        .agg(sum(col("first_milli")).as("first_touch_milli"),
          sum(col("last_milli")).as("last_touch_milli"),
          sum(col("linear_milli")).as("linear_milli"))
        .orderBy(col("channel"))
    }),

    // Four-way synopsis bake-off — q241 plus the q247 wavelet as the
    // fourth estimator, all over the SAME frequency vector and the
    // SAME prefix-range queries: equi-width, equi-depth, V-optimal,
    // and the top-4-coefficient Haar reconstruction (16·x̂ summed,
    // clamped at 0, one DIV 16 — negative reconstruction clamps
    // BEFORE the division so floor-vs-truncate can never diverge).
    // The complete answer to "which synopsis should the catalog
    // store for this column", measured.
    "q255_synopsis_bakeoff" -> ((s, d) => {
      val bands = Tables.customer(s, d)
        .groupBy(floor(col("c_acctbal") / 1000).cast("long").as("band"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("band"))
        .collect() // ≤16 rows by value range — model-sized
      val f = bands.map(_.getLong(1)).toIndexedSeq
      val v = f.length
      val n = f.sum
      val cf = f.scanLeft(0L)(_ + _).toIndexedSeq
      def segSum(lo: Int, hi: Int): Long = cf(hi) - cf(lo - 1)
      val (wk, wtot, _) = Wavelet.threshold(f, 4)
      val x16 = Wavelet.reconstruct16(wtot, wk.map(t => (t._2, t._3, t._4)))
      val px16 = x16.scanLeft(0L)(_ + _)
      def wEst(t: Int): Long = math.max(px16(t), 0L) / 16L
      val bucketed = Seq(
        "equi_depth" -> SynopsisAudit.equiDepth(cf, 4),
        "equi_width" -> SynopsisAudit.equiWidth(v, 4),
        "v_optimal" -> VOptHistogram.fit(f, 4)._1
          .map(b => (b.loIdx, b.hiIdx)))
      val rows = (bucketed.map { case (name, bks) =>
        name -> (1 to v).map(t =>
          math.abs(SynopsisAudit.prefixEstimate(bks, segSum, t) - cf(t)))
      } :+ ("wavelet_top4" ->
        (1 to v).map(t => math.abs(wEst(t) - cf(t)))))
        .map { case (name, errs) =>
          (name, v.toLong, (1000000L * errs.sum) / (v.toLong * n),
            errs.map(e => 1000000L * e / n).max)
        }
      s.createDataFrame(rows)
        .toDF("hist", "n_queries", "mean_abs_err_ppm", "max_abs_err_ppm")
        .orderBy(col("hist"))
    }),

    // Bloom filter false-positive-rate sweep (Bloom 1970) — the q223
    // pattern (measured error vs size) for membership filters: the
    // customer key set is inserted into simulated filters of m ∈
    // {4096, 16384, 65536} bits with k = 3 md5-slice hash positions
    // (bit array = the DISTINCT position set — exactly a Bloom filter
    // by definition), then 1500 guaranteed-non-member probes measure
    // the real FPR per size alongside the fill ratio. Deterministic in
    // any md5 engine; the number that sizes q141's semi-join filter
    // before a 100 TB run commits to it.
    // AMS tug-of-war F2 sketch (Alon, Matias & Szegedy 1996) — the
    // frequency moment the sketch family was missing (HLL = F0, CMS =
    // point queries, Misra-Gries = heavy hitters, q-digest = quantiles,
    // DGIM = windowed counts; none answers "how big is the self-join").
    // F2 = sum over keys of c_k^2 IS the self-join size on l_partkey —
    // the quantity a skew-aware planner needs BEFORE committing to a
    // join (AQE's skew split, broadcast-vs-shuffle choice), and AMS
    // answers it in one streaming pass with 125 counters and NO groupBy
    // on the key: X_j = sum of +-1 signs per row, E[X_j^2] = F2.
    // Signs are md5 bits (ONE seeded digest = 128 bits -> 125 sign
    // functions, one bit each — the registerRows/minhash slice
    // convention, and one hash per row total), so both
    // engines replay the randomness bit-for-bit. Median of 5 means of
    // 25 estimators, all BIGINT (X^2 <= n^2 fits; integer div); the
    // exact groupBy twin and the measured err_ppm ride alongside —
    // q223's audit discipline (the estimator's ~sqrt(2/25) relative
    // std shows up honestly against the exact leg). 100 TB shape: the
    // sketch pass is one map-side aggregate (125 conditional sums, no
    // shuffle on the key, constant state — mergeable across partitions
    // and days by addition); only the audit twin pays the key shuffle.
    "q276_ams_f2" -> ((s, d) => {
      import graft.ext.Sketches
      val li = Tables.lineitem(s, d).select(col("l_partkey").cast("long").as("k"))
      // r12: the single 126-buffer aggregate exceeded codegen maxFields
      // and ran interpreted (25 µs/row measured). Decomposed: chunk
      // digests computed ONCE (fanned out inside amsChunks, then
      // MATERIALIZED — six aggregate branches would otherwise race the
      // lazy cache and recompute the md5 pass each), then count + five
      // 25-sum legs, each narrow enough for whole-stage codegen, glued
      // by one-row crossJoins. Bit-identical sums, same estimate.
      val chunks = graft.ops.TransientCache.materialize(
        Sketches.amsChunks(li, "k"))
      val legs = (0 until Sketches.amsGroups).map { g =>
        val cs = (g * Sketches.amsPerGroup until (g + 1) * Sketches.amsPerGroup)
          .map(Sketches.amsBitSum)
        chunks.agg(cs.head, cs.tail: _*)
      }
      val agg = legs.foldLeft(chunks.agg(count(lit(1)).as("n")))(
        (acc, l) => acc.crossJoin(l))
      val est = Sketches.amsEstimateFromSums(agg)
      val exact = li.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("f2_exact"))
      est.crossJoin(broadcast(exact))
        .select(col("n_rows"), col("n_keys"), col("f2_exact"), col("f2_est"),
          expr("(1000000 * abs(f2_est - f2_exact)) div f2_exact").as("err_ppm"))
    }),

    "q256_bloom_fpr_sweep" -> ((s, d) => {
      val ms = s.createDataFrame(
        Seq(4096L, 16384L, 65536L).map(Tuple1(_))).toDF("m")
      val js = s.createDataFrame(Seq(1, 2, 3).map(Tuple1(_))).toDF("j")
      val mem = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("key"))
      def positions(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(ms)).crossJoin(broadcast(js))
          .withColumn("pos", expr(
            "CAST(conv(substring(md5(CAST(concat(CAST(key AS STRING), " +
              "':', CAST(j AS STRING)) AS BINARY)), 1, 8), 16, 10) " +
              "AS BIGINT) % m"))
      val bits = graft.ops.TransientCache.persist(
        positions(mem).select(col("m"), col("pos")).distinct())
      val bitCnt = bits.groupBy(col("m"))
        .agg(count(lit(1)).as("bits_set"))
      val pp = positions(mem.select((col("key") + 1000000L).as("key")))
        .select(col("m"), col("key"), col("pos")).distinct()
      val tot = pp.groupBy(col("m"), col("key"))
        .agg(count(lit(1)).as("npos"))
      val hit = pp.join(bits, Seq("m", "pos"), "left_semi")
        .groupBy(col("m"), col("key")).agg(count(lit(1)).as("matched"))
      tot.join(hit, Seq("m", "key"), "left")
        .withColumn("isfp",
          (coalesce(col("matched"), lit(0L)) === col("npos")).cast("long"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_probes"), sum(col("isfp")).as("false_pos"))
        .join(bitCnt, "m")
        .crossJoin(broadcast(mem.agg(count(lit(1)).as("n_inserted"))))
        .withColumn("fill_ppm", expr("(1000000 * bits_set) DIV m"))
        .withColumn("fpr_ppm", expr("(1000000 * false_pos) DIV n_probes"))
        .select(col("m"), col("n_inserted"), col("bits_set"),
          col("fill_ppm"), col("n_probes"), col("false_pos"),
          col("fpr_ppm"))
        .orderBy(col("m"))
    }),

    // Benford first-digit audit (Newcomb 1881; Benford 1938) — the
    // classic fraud / synthetic-data detector: observed first-
    // significant-digit shares of order totals against the Benford
    // expectation log10(1 + 1/d). The first digit is extracted by
    // STRING truncation of the integer part (no log10 round-trip whose
    // 1-ulp drift could flip a boundary value's digit), and the nine
    // expected ppm shares are hard literals of a universal constant —
    // zero transcendental parity exposure anywhere. On this synthetic
    // corpus the audit correctly screams (deviation_ppm ≈ 10⁵): uniform
    // price generators are exactly what Benford checks catch.
    "q176_benford_audit" -> ((s, d) => {
      val exp = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
        66946L, 57991L, 51152L, 45757L)
      val expDf = s.createDataFrame(
        s.sparkContext.parallelize(
          (1 to 9).map(i => org.apache.spark.sql.Row(i.toString, exp(i - 1))), 1),
        new org.apache.spark.sql.types.StructType()
          .add("digit", "string").add("exp_ppm", "long"))
      val obs = Tables.orders(s, d).where(col("o_totalprice") >= 1)
        .select(substring(
          expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"), 1, 1)
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("total"))
      expDf.join(obs, Seq("digit"), "left")
        .crossJoin(tot)
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          expr("(1000000 * coalesce(n, 0)) div total").as("obs_ppm"),
          col("exp_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .orderBy(col("digit"))
    }),

    // Zipf rank-frequency fit (Zipf 1949): OLS slope of ln(freq) on
    // ln(rank) over the top-1000 vocabulary — natural text sits near
    // slope −1, and a corpus that doesn't is telling you something
    // (synthetic generation, boilerplate floods, aggressive dedup).
    // q90's integer-moment discipline: both lns quantize to
    // floor(×1000) integers BEFORE the moment sums (order-independent),
    // and only the final slope/intercept/corr divide in double. The
    // top-k head is a bounded TakeOrdered over the session vocab
    // aggregate.
    "q177_zipf_fit" -> ((s, d) => {
      val ranked = ExtQueries.docSourceTokenCounts(s, d)
        .groupBy(col("token")).agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(1000)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("token"))).cast("long"))
        .select(
          expr("CAST(floor(1000 * ln(CAST(rank AS DOUBLE))) AS BIGINT)").as("x"),
          expr("CAST(floor(1000 * ln(CAST(freq AS DOUBLE))) AS BIGINT)").as("y"))
      ranked.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          expr("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)")
            .as("slope"),
          expr("(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) " +
            "/ CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) " +
            "/ CAST(n AS DOUBLE)").as("intercept"),
          expr("CAST(n * sxy - sx * sy AS DOUBLE) / sqrt(" +
            "CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))")
            .as("corr"))
        
    }),

    // Inter-arrival gap quantiles: per event type (of the EARLIER
    // event), the exact p50/p90 gap to the user's next event — the
    // latency-distribution health metric behind rate limiting, session
    // gap tuning (q45's 30-minute threshold is exactly a choice on this
    // distribution) and anomaly baselines. One lead() window per user
    // for the gaps, then q173's integer rank-crossing quantiles,
    // microsecond-exact.
    "q175_interarrival_quantiles" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(nxt) - unix_micros(ts)").as("us"))
      // Rank-crossing quantiles with the SHARDED rank (event_type is a
      // ~5-value enum; a per-type window serializes — the r10 q155
      // shape). The us order has ties; any rank assignment consistent
      // with it picks the same quantile VALUES, so a synthetic unique
      // tie (us, row id) is fine — gaps carries no natural id after the
      // lead pairing, so rank ties break on a fresh monotonic id.
      val ranked = graft.ops.ShardedRank.withRank(
        gaps.withColumn("gid", monotonically_increasing_id()),
        Seq("event_type"), col("us"), col("gid"), "rn")
      val nTab = ranked.groupBy(col("event_type")).agg(max(col("rn")).as("n"))
      ranked.join(broadcast(nTab), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_gaps"),
          max(when(col("rn") * 2 >= col("n") &&
            (col("rn") - 1) * 2 < col("n"), col("us"))).as("p50_us"),
          max(when(col("rn") * 10 >= col("n") * 9 &&
            (col("rn") - 1) * 10 < col("n") * 9, col("us"))).as("p90_us"))
        .orderBy(col("event_type"))
    }),

    // Seasonal-naive forecast audit (the MASE discipline, Hyndman &
    // Koehler 2006): forecast each day's series value with the value
    // seven days back, score absolute error against the one-day-naive
    // baseline — mase_ppm < 10⁶ means weekly seasonality carries real
    // signal for that series. Integer-exact end to end (quantized
    // values, integer absolute errors, one ppm division); both
    // forecasts are lag() windows over the daily grain, partition-
    // parallel per series.
    "q171_seasonal_naive_eval" -> ((s, d) => {
      val daily = dailyAgg(Tables.events(s, d))
        .select(col("event_type"), col("day"), col("value_q").as("vq"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("f_seasonal", lag(col("vq"), 7).over(w))
        .withColumn("f_naive", lag(col("vq"), 1).over(w))
        .where(col("f_seasonal").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("vq") - col("f_seasonal"))).as("ae_seasonal"),
          sum(abs(col("vq") - col("f_naive"))).as("ae_naive"))
        .withColumn("mase_ppm", expr(
          "CASE WHEN ae_naive > 0 THEN (1000000 * ae_seasonal) div ae_naive " +
            "ELSE -1 END"))
        .orderBy(col("event_type"))
    }),

    // EWMA anomaly monitor — exponential forgetting, the recency-shape
    // none of the existing monitors have (CUSUM q161 accumulates
    // unweighted drift, KS q178 and PSI q119 compare static windows,
    // seasonal-naive q171 looks at exactly two lags): each day's
    // baseline is the half-life-1-day weighted mean of the prior 8
    // observed days, with POWER-OF-2 weights 2^(8-g) so the smoother is
    // BIGINT-exact — num = sum vq*2^(8-g), den = 2^8 - 2^(8-n_prior)
    // (the geometric identity, exact for ragged series starts). A day
    // flags 'burst' when vq*den > 3*num and 'drop' when 3*vq*den < num
    // — cross-multiplied, no division in the predicate. Overflow
    // envelope: num <= 255*max(vq), so the smoother survives daily
    // sums up to 2^55 (36 PB of milli-units/day) before BIGINT wraps.
    // One window pass per series (8 lags + a row_number), zero joins —
    // at 100 TB the daily grain is time-bounded, types are enumerable,
    // and the heavy work is the one groupBy that builds the grain.
    "q209_ewma_anomaly" -> ((s, d) => {
      val daily = dailyAgg(Tables.events(s, d))
        .select(col("event_type"), col("day"), col("value_q").as("vq"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val num = (1 to 8).map(g =>
        coalesce(lag(col("vq"), g).over(w), lit(0L)) * lit(1L << (8 - g)))
        .reduce(_ + _)
      daily
        .withColumn("n_prior", least(row_number().over(w) - 1, lit(8)))
        .withColumn("num", num)
        .withColumn("den",
          lit(256L) - expr("CAST(shiftleft(1L, 8 - n_prior) AS BIGINT)"))
        .where(col("n_prior") > 0)
        .select(col("event_type"), col("day"), col("vq"),
          col("n_prior").cast("long").as("n_prior"),
          expr("CAST((1000 * num) DIV den AS BIGINT)").as("ewma_milli"),
          when(col("num") > 0,
            expr("CAST((1000000 * vq * den) DIV num AS BIGINT)"))
            .as("ratio_ppm"),
          when(col("vq") * col("den") > lit(3L) * col("num"), "burst")
            .when(lit(3L) * col("vq") * col("den") < col("num"), "drop")
            .otherwise("normal").as("flag"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Day-of-week seasonal index — the profile q171's forecast banks
    // on, stated as a first-class table: per (series, dow) the mean
    // daily value and its ppm index against the series' overall daily
    // mean (index far from 10⁶ = strong weekly shape). Integer-exact:
    // means compared via cross-multiplied sums, one ppm division with
    // both operands exact.
    "q172_dow_seasonality" -> ((s, d) => {
      // Series totals derive from the (event_type, dow) grain itself —
      // sum over ≤7 dow rows per series via a partitioned window — so
      // the fact scans ONCE and nothing persists. (r7 verdict: the
      // previous two-reader shape persisted the ~150-row daily table
      // and that persist cost seconds under driver-host memory
      // pressure; sibling q171, same shape without the persist, did
      // not. Deriving the total from the finer grain removes both the
      // persist and the second aggregate of `daily`.)
      val daily = dailyAgg(Tables.events(s, d))
        .select(col("event_type"), col("day"), col("value_q").as("vq"))
      val byDow = daily
        .withColumn("dow", dayofweek(col("day")).cast("int"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("vq")).as("sum_vq"))
      val wSeries = Window.partitionBy(col("event_type"))
      byDow
        .withColumn("n_all", sum(col("n_days")).over(wSeries))
        .withColumn("sum_all", sum(col("sum_vq")).over(wSeries))
        .select(col("event_type"), col("dow"), col("n_days"), col("sum_vq"),
          expr("(1000000 * sum_vq * n_all) div (n_days * sum_all)")
            .as("idx_ppm"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // Markov next-event prediction audit — q78's transition model made
    // accountable: transition counts train on the pre-cutoff slice (the
    // q106 temporal-split convention), the per-state top-1 prediction
    // is the argmax next type (ties → lexicographic), and accuracy is
    // measured on post-cutoff transitions the model never saw. The
    // model is states²-sized (broadcast literal at any corpus scale);
    // both passes are one lead() window over the per-user event order.
    // This is the audit discipline of q109/q149/q163: never ship a
    // model — even a 5-state one — whose accuracy was not measured
    // out-of-sample.
    "q168_markov_eval" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .select(col("event_type").as("from_type"), col("to_type"), col("ts"))
      val trc = graft.ops.TransientCache.persist(tr)
      val train = trc.where(col("ts") < cutoff)
        .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      val wBest = Window.partitionBy(col("from_type"))
        .orderBy(col("n").desc, col("to_type"))
      val pred = train.withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1)
        .select(col("from_type"), col("to_type").as("pred_type"))
      trc.where(col("ts") >= cutoff)
        .join(broadcast(pred), Seq("from_type"), "left")
        .groupBy(col("from_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("pred_type") === col("to_type"), lit(1L))
            .otherwise(lit(0L))).as("n_correct"))
        .withColumn("acc_ppm", expr("(1000000 * n_correct) div n_eval"))
        .orderBy(col("from_type"))
    }),

    // Kaplan-Meier time-to-event (Kaplan & Meier 1958): survival curve
    // of days-from-first-activity to FIRST PURCHASE, right-censored at
    // the user's last observed day when no purchase happens — the
    // classic conversion-latency analysis, done integer-exact: per
    // duration t the risk set is total minus the running count of
    // earlier leavers (one window pass), and the survival product
    // Π(1 − d/n) is carried as the CUMULATIVE SUM of per-step
    // floor(10⁶·ln((n−d)/n)) terms — each term quantized BEFORE the
    // ordered sum (q105's order-independence rule), a full-conversion
    // step (n_risk = d) marked with an explicit sentinel instead of
    // ln(0). The duration-grain table is bounded by the observation
    // horizon in days — tiny at any corpus size; only the per-user
    // first/last aggregation touches the fact.
    "q167_kaplan_meier" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val u = ev.groupBy(col("user_id")).agg(
        date_trunc("day", min(col("ts"))).as("f"),
        date_trunc("day", max(col("ts"))).as("l"))
      val p = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("fp"))
      val dd = u.join(p, Seq("user_id"), "left")
        .select(
          when(col("fp").isNotNull,
            expr("CAST(datediff(CAST(fp AS DATE), CAST(f AS DATE)) AS BIGINT)"))
            .otherwise(
              expr("CAST(datediff(CAST(l AS DATE), CAST(f AS DATE)) AS BIGINT)"))
            .as("t"),
          when(col("fp").isNotNull, lit(1L)).otherwise(lit(0L)).as("converted"))
      val tot = dd.agg(count(lit(1)).as("n"))
      val byt = dd.groupBy(col("t"))
        .agg(sum(col("converted")).as("d_events"), count(lit(1)).as("leaving"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("t"))
      byt.crossJoin(tot)
        .withColumn("n_risk",
          col("n") - coalesce(sum(col("leaving")).over(wPrev), lit(0L)))
        .withColumn("n_censored", col("leaving") - col("d_events"))
        .withColumn("term_lq", expr(
          """CAST(CASE WHEN d_events = 0 THEN 0
            | WHEN n_risk > d_events THEN floor(1000000 * ln(
            |   CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)))
            | ELSE -999999999 END AS BIGINT)""".stripMargin))
        .withColumn("survival_lq", sum(col("term_lq")).over(wCum))
        .select(col("t").as("t_days"), col("n_risk"), col("d_events"),
          col("n_censored"), col("survival_lq"))
        .orderBy(col("t_days"))
    }),

    // STRATIFIED Kaplan-Meier — q167 partitioned by customer market
    // segment (events.user_id → customer, the q103-audited FK; users
    // with no dimension row stratify as 'unknown' instead of silently
    // dropping): per-segment conversion-latency curves, the comparison
    // a funnel owner actually reads ("which segment converts slower").
    // Same integer discipline as q167; every window gains the segment
    // partition key, so strata stay partition-parallel at any segment
    // cardinality.
    "q174_km_by_segment" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val u = ev.groupBy(col("user_id")).agg(
        date_trunc("day", min(col("ts"))).as("f"),
        date_trunc("day", max(col("ts"))).as("l"))
      val p = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("fp"))
      val seg = u.join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey").as("user_id"),
              col("c_mktsegment").as("cseg"))),
          Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("cseg"), lit("unknown")).as("segment"))
      val dd = u.join(p, Seq("user_id"), "left").join(seg, "user_id")
        .select(col("segment"),
          when(col("fp").isNotNull,
            expr("CAST(datediff(CAST(fp AS DATE), CAST(f AS DATE)) AS BIGINT)"))
            .otherwise(
              expr("CAST(datediff(CAST(l AS DATE), CAST(f AS DATE)) AS BIGINT)"))
            .as("t"),
          when(col("fp").isNotNull, lit(1L)).otherwise(lit(0L)).as("converted"))
      val tot = dd.groupBy(col("segment")).agg(count(lit(1)).as("n"))
      val byt = dd.groupBy(col("segment"), col("t"))
        .agg(sum(col("converted")).as("d_events"), count(lit(1)).as("leaving"))
      val wPrev = Window.partitionBy(col("segment")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("segment")).orderBy(col("t"))
      byt.join(tot, "segment")
        .withColumn("n_risk",
          col("n") - coalesce(sum(col("leaving")).over(wPrev), lit(0L)))
        .withColumn("n_censored", col("leaving") - col("d_events"))
        .withColumn("term_lq", expr(
          """CAST(CASE WHEN d_events = 0 THEN 0
            | WHEN n_risk > d_events THEN floor(1000000 * ln(
            |   CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)))
            | ELSE -999999999 END AS BIGINT)""".stripMargin))
        .withColumn("survival_lq", sum(col("term_lq")).over(wCum))
        .select(col("segment"), col("t").as("t_days"), col("n_risk"),
          col("d_events"), col("n_censored"), col("survival_lq"))
        .orderBy(col("segment"), col("t_days"))
    }),

    // IDF-weighted containment decontamination — q96 with every shared
    // trigram weighted by corpus rarity floor(1000·ln(N/df)): a hit on
    // a rare gram is strong contamination evidence, a hit on boilerplate
    // is nearly none (the reason unweighted containment over-flags
    // template-heavy corpora). Same artifact diet as q96 (session
    // shingle table; the IDF table is one groupBy over it), same
    // best-bench window; all weights integer-quantized BEFORE summing
    // so the per-doc masses are order-independent (q105's rule), the
    // single ln riding the documented parity posture.
    "q166_idf_decontaminate" -> ((s, d) => {
      val sh = ExtQueries.trigramShingles(s, d)
      val srcMap = ExtQueries.docSourceMap(s, d)
      // the gram-IDF table is corpus-grade (one groupBy over the session
      // shingle artifact) — session-cached like the artifact it derives
      // from, so repeated decontamination passes pay it once
      val idf = graft.ops.SessionCache.getOrBuild(s, s"trigram_idf:$d") {
        val nn = sh.agg(countDistinct(col("doc")).as("n"))
        sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .crossJoin(nn)
          .withColumn("w", expr(
            "CAST(floor(1000 * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))) AS BIGINT)"))
          .select(col("s"), col("w"))
      }
      val candGrams = sh.join(broadcast(srcMap
        .where(col("source") =!= "src0").select(col("doc"))), "doc")
      val benchGrams = sh.join(broadcast(srcMap
        .where(col("source") === "src0").select(col("doc"))), "doc")
      val cw = graft.ops.TransientCache.persist(candGrams.join(idf, "s"))
      val hits = cw.as("c").join(benchGrams.as("b"), col("c.s") === col("b.s"))
        .groupBy(col("c.doc").as("doc"), col("b.doc").as("bench_doc"))
        .agg(sum(col("c.w")).as("common_w"))
      val mass = cw.groupBy(col("doc")).agg(sum(col("w")).as("idf_mass"))
      val wBest = Window.partitionBy(col("doc"))
        .orderBy(col("common_w").desc, col("bench_doc"))
      val best = hits.withColumn("rn", row_number().over(wBest))
        .where(col("rn") === 1).drop("rn")
      mass.join(best, Seq("doc"), "left")
        .select(col("doc").as("doc_id"), col("idf_mass"),
          coalesce(col("bench_doc"), lit(-1L)).as("best_bench"),
          coalesce(col("common_w"), lit(0L)).as("common_idf_q"))
        .withColumn("containment_idf_ppm", expr(
          "CASE WHEN idf_mass > 0 THEN (1000000 * common_idf_q) div idf_mass ELSE 0 END"))
        .orderBy(col("doc_id"))
    }),

    // PMI collocations (Church & Hanks 1990) over adjacent token pairs:
    // integer counts everywhere, one ln() at the end, floor(×1000)
    // quantized like BM25 so engines agree despite ulp-level ln noise.
    "q97_token_pmi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // pairs feeds both the pair total and the scoring join — persisted
      // so the full-corpus pair flatMap + shuffle runs once (like uni)
      val pairs = graft.ops.TransientCache.persist(
        ExtQueries.docSourcePairCounts(s, d)
          .groupBy(col("tok_a"), col("tok_b")).agg(sum(col("n")).as("n")))
      val uni = ExtQueries.docTokenCounts(s, d)
      val nTok = uni.agg(sum(col("cnt")).as("n_tok"))
      val mPair = pairs.agg(sum(col("n")).as("m_pair"))
      val scored = pairs.where(col("n") >= 5)
        .join(uni.select(col("token").as("tok_a"), col("cnt").as("ca")), "tok_a")
        .join(uni.select(col("token").as("tok_b"), col("cnt").as("cb")), "tok_b")
        .crossJoin(nTok).crossJoin(mPair)
        .withColumn("pmi_q", expr(
          "CAST(floor(1000 * ln(((CAST(n AS DOUBLE) * CAST(n_tok AS DOUBLE)) * CAST(n_tok AS DOUBLE)) " +
            "/ ((CAST(m_pair AS DOUBLE) * CAST(ca AS DOUBLE)) * CAST(cb AS DOUBLE)))) AS BIGINT)"))
      scored.orderBy(col("pmi_q").desc, col("tok_a"), col("tok_b")).limit(40)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pmi_q").desc, col("tok_a"), col("tok_b"))).cast("int"))
        .select(col("rank"), col("tok_a"), col("tok_b"), col("n"), col("pmi_q"))
        .orderBy(col("rank"))
    }),

    // Mergeable histogram-sketch quantiles: per-language p25/p50/p90 of
    // doc length estimated from a 64-bin equi-width histogram — integer
    // intra-bin interpolation, so the estimate is engine-exact. The
    // histogram is the 100 TB path: bin counts merge associatively
    // across partitions/days (unlike exact percentiles, which need a
    // global sort), and the estimate's error is bounded by bin width.
    "q99_hist_quantiles" -> ((s, d) => {
      val v = Tables.documents(s, d).select(col("lang"), col("n_chars").as("x"))
      val b = v.agg(min(col("x")).as("gmin"), max(col("x")).as("gmax"))
      val binned = v.crossJoin(b)
        .withColumn("w", psiWidth(col("gmin"), col("gmax"), 64))
        .withColumn("bin", psiBin(col("x"), col("gmin"), col("w"), 64))
      val hist = binned.groupBy(col("lang"), col("gmin"), col("w"), col("bin"))
        .agg(count(lit(1)).as("bn"))
      val cum = hist
        .withColumn("cum",
          sum(col("bn")).over(Window.partitionBy(col("lang")).orderBy(col("bin"))))
        .withColumn("ntot",
          sum(col("bn")).over(Window.partitionBy(col("lang"))))
      cum.withColumn("q_ppm",
          explode(array(lit(250000L), lit(500000L), lit(900000L))))
        .withColumn("target", expr("(ntot * q_ppm + 999999) div 1000000"))
        .where(col("cum") >= col("target") &&
          (col("cum") - col("bn")) < col("target"))
        .select(col("lang"), col("q_ppm"), col("ntot").as("n"),
          expr("gmin + bin * w + (((target - (cum - bn)) * w) div bn)")
            .as("est"))
        .orderBy(col("lang"), col("q_ppm"))
    }),

    // Corpus-level source-overlap audit: distinct-trigram Jaccard between
    // every source pair — which crawl slices duplicate each other (the
    // audit that decides dedup ordering and mixing weights). Pairing
    // happens INSIDE each gram's posting (bounded by sources², never
    // docs²).
    "q100_source_overlap" -> ((s, d) => {
      val sg = graft.ops.TransientCache.persist(
        ExtQueries.trigramShingles(s, d)
          .join(ExtQueries.docSourceMap(s, d), "doc")
          .select(col("source"), col("s")).distinct())
      val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      // pair INSIDE each gram's posting list: collect the sorted source
      // set per gram (bounded by |sources|), expand ordered pairs in a
      // typed scan-speed flatMap (the tokenCooccurrence pattern — the
      // interpreted HOF path measurably dominates on hot loops) — no
      // gram self-join ever materializes
      import s.implicits._
      val pairs = sg.groupBy(col("s"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .select(col("srcs")).as[Seq[String]]
        .flatMap { srcs =>
          for (i <- srcs.indices.iterator; j <- (i + 1 until srcs.length).iterator)
            yield (srcs(i), srcs(j))
        }
        .toDF("src_a", "src_b")
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(sizes.select(col("source").as("src_a"), col("n_grams").as("n_a")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n_grams").as("n_b")), "src_b")
        .withColumn("jaccard_ppm",
          expr("(1000000 * n_shared) div (n_a + n_b - n_shared)"))
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
          col("n_b"), col("jaccard_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Weighted sampling without replacement (Efraimidis & Spirakis 2006
    // A-ES): token-count-weighted top-100 by the deterministic md5 draw,
    // key = -ln(u)/w quantized to nano-units — the reproducible
    // quality-weighted subset draw. Map-side keys + one TakeOrdered.
    "q101_weighted_sample" -> ((s, d) =>
      TextAnalysis.withQuality(Tables.documents(s, d), "text")
        .where(col("n_tokens") > 0)
        .withColumn("u", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("key_q", expr(
          "CAST(floor(1000000000 * (ln(4294967296.0 / (CAST(u AS DOUBLE) + 1.0)) " +
            "/ CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
        .orderBy(col("key_q"), col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("key_q"), col("doc_id"))).cast("int"))
        .select(col("rank"), col("doc_id"),
          col("n_tokens").cast("bigint").as("weight"), col("u"), col("key_q"))
        .orderBy(col("rank"))),

    // SCD-2 dimension build: each customer's order-priority history as
    // versioned [valid_from, valid_to) intervals with an is_current
    // flag — the slowly-changing-dimension snapshot an OLAP star
    // maintains (one window pass, no self-join).
    "q98_scd2_customer" -> ((s, d) =>
      // the one scdIntervals builder (shared with q102 and the
      // stream-static twin), published in dimension-table column names;
      // is_current ⇔ the open-ended sentinel interval
      scdIntervals(s, d, keyLimit = 300)
        .select(col("user_id").as("custkey"), col("version"),
          col("priority"), col("ts").as("valid_from"), col("valid_to"),
          (col("valid_to") === expr("TIMESTAMP '9999-12-31 00:00:00'"))
            .as("is_current"))
        .orderBy(col("custkey"), col("version"))
        ),

    // MIN-view maintenance under DELETES — the incremental-maintenance
    // corner q126 (sums, insert-only) and q213 (join views) leave
    // open: MIN/MAX folds inserts trivially but a delete can KILL the
    // stored extremum, and then nothing short of touching the group
    // again is correct. The maintained path does the minimum work
    // that is: groups whose stored min survives the delete batch keep
    // their stored row UNTOUCHED (left-anti — no recompute, no scan);
    // only groups whose stored min appears among their deleted values
    // recompute from survivors. The oracle recomputes EVERY group from
    // scratch and derives the recompute flag independently — so the
    // compare proves maintained ≡ recompute AND that the flag marks
    // exactly the groups that needed work. Delete batch = every 7th
    // order. 100 TB: the affected-group set is delete-bounded; the
    // recompute is a semi-join-scoped aggregate, never a view rebuild.
    "q264_min_maint_deletes" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey").as("custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        (col("o_orderkey") % 7 === 0).as("del"))
      val stored = graft.ops.TransientCache.persist(
        o.groupBy(col("custkey")).agg(min(col("cents")).as("min0")))
      val delMin = o.where(col("del")).groupBy(col("custkey"))
        .agg(min(col("cents")).as("dmin"))
      val affected = stored.join(delMin, Seq("custkey"))
        .where(col("dmin") === col("min0")).select(col("custkey"))
      val recomputed = o.where(!col("del"))
        .join(affected, Seq("custkey"), "left_semi")
        .groupBy(col("custkey")).agg(min(col("cents")).as("min_cents"))
        .withColumn("recomputed", lit(1))
      val untouched = stored.join(affected, Seq("custkey"), "left_anti")
        .select(col("custkey"), col("min0").as("min_cents"))
        .withColumn("recomputed", lit(0))
      recomputed.unionByName(untouched)
        .select(col("custkey"), col("min_cents"),
          col("recomputed").cast("int").as("recomputed"))
        .orderBy(col("custkey"))
    }),

    // Bitemporal as-of — the two-axis point query q98 (valid time) and
    // q102 (valid-time lookup) stop short of: "as KNOWN at T_tx, which
    // version was valid at T_valid". Versions carry BOTH a valid-from
    // (the order date, q98's axis) and a transaction time (when the
    // warehouse learned of it — a deterministic 0–71 h ingest lag,
    // orderkey % 72 hours, so late arrivals retro-correct history and
    // the two axes genuinely diverge). Four probe pairs — same
    // T_valid at next-day vs end-of-history T_tx — make the
    // correction visible: the next-day probe answers from the
    // versions known THEN, the late probe from the corrected record.
    // Selection = max (valid_from, version) among versions with
    // vt ≤ T_valid AND tx ≤ T_tx; all comparisons in exact epoch-µs.
    // 100 TB: probes broadcast against the version scan, one
    // (probe, user)-partitioned rank — never a version self-join.
    "q268_bitemporal_asof" -> ((s, d) => {
      val wv = Window.partitionBy(col("user_id"))
        .orderBy(col("vt_us"), col("o_orderkey"))
      val v = Tables.orders(s, d).where(col("o_custkey") < 100)
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("vt_us"),
          col("o_orderpriority").as("priority"), col("o_orderkey"))
        .withColumn("version", row_number().over(wv).cast("int"))
        .withColumn("tx_us",
          col("vt_us") + (col("o_orderkey") % 72) * lit(3600000000L))
      val probes = Seq(
        (1, "1994-01-01 00:00:00", "1994-01-02 00:00:00"),
        (2, "1994-01-01 00:00:00", "1998-12-31 00:00:00"),
        (3, "1996-06-15 00:00:00", "1996-06-16 00:00:00"),
        (4, "1996-06-15 00:00:00", "1998-12-31 00:00:00"))
      val pr = probes.map { case (i, tv, tt) =>
        s.range(1).select(lit(i).cast("int").as("probe_id"),
          unix_micros(lit(tv).cast("timestamp")).as("tv_us"),
          unix_micros(lit(tt).cast("timestamp")).as("tt_us"))
      }.reduce(_ unionByName _)
      val wSel = Window.partitionBy(col("probe_id"), col("user_id"))
        .orderBy(col("vt_us").desc, col("version").desc)
      v.join(broadcast(pr),
          col("vt_us") <= col("tv_us") && col("tx_us") <= col("tt_us"))
        .withColumn("rn", row_number().over(wSel))
        .where(col("rn") === 1)
        .select(col("probe_id"), col("user_id"), col("version"),
          col("priority"),
          timestamp_micros(col("vt_us")).as("valid_from"))
        .orderBy(col("probe_id"), col("user_id"))
    }),

    // Point-in-time (interval) dimension lookup: each event joined to
    // the SCD-2 priority version valid at its timestamp — executed on
    // the as-of path (union + one key shuffle + one window pass, then
    // the upper-bound check), NEVER a theta join: the oracle states the
    // interval containment directly, the engine never pairs beyond one
    // candidate version per event.
    "q102_interval_lookup" -> ((s, d) => {
      val scd = scdIntervals(s, d)
      val ev = Tables.events(s, d).where(col("user_id") < 20)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      graft.ops.AsOfJoin.asOfInner(ev, scd, "user_id", "ts",
          Seq("version", "priority", "valid_to"), "version", "v_")
        .where(col("ts") < col("v_valid_to"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("v_version").as("version"), col("v_priority").as("priority"))
        .orderBy(col("event_id"))
    }),

    // Star-schema FK integrity audit (the dbt-test / data-contract
    // layer): per relationship, child rows, distinct keys, and orphan
    // rows via hash anti-joins — the referential health report a
    // warehouse load gate runs before publishing.
    "q103_fk_audit" -> ((s, d) => {
      def audit(name: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String): DataFrame = {
        val c = child.select(col(key).as("k"))
        val stats = c.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"))
        val orph = c.join(parent.select(col(pkey).as("k")).distinct(),
            Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        stats.crossJoin(orph).select(lit(name).as("relationship"),
          col("n_rows"), col("n_keys"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      Seq(
        audit("events.user_id->customer", Tables.events(s, d), "user_id",
          Tables.customer(s, d), "c_custkey"),
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        audit("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        audit("orders.o_custkey->customer", o, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_ unionAll _)
        .orderBy(col("relationship"))
    }),

    // Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    // the 4×512 register table next to the exact top-20 token counts it
    // estimates — like q81's HLL, the sketch is what replaces the exact
    // aggregate at 100 TB (registers merge by +, fixed size, one
    // map-side-combined shuffle), and the exact column calibrates its
    // one-sided overcount. Hashes are md5-derived (engine-portable);
    // est = min over the 4 rows of the bucket the token lands in.
    "q104_cms_heavy_hitters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tc = ExtQueries.docTokenCounts(s, d)
      val cms = graft.ext.Sketches.cmsRegisters(tc, 4, 512)
      val top = tc.orderBy(col("cnt").desc, col("token")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
      graft.ext.Sketches.cmsBuckets(top, 4, 512)
        .join(broadcast(cms), Seq("j", "bucket"))
        .groupBy(col("rank"), col("token"), col("cnt"))
        .agg(min(col("bucket_sum")).as("cms_est"))
        .select(col("rank"), col("token"), col("cnt").as("freq"),
          col("cms_est"), (col("cms_est") - col("cnt")).as("overcount"))
        .orderBy(col("rank"))
    }),

    // Corpus-trained bigram-LM scoring (the CCNet/KenLM quality-filter
    // analogue): a Laplace-smoothed bigram model trained on the
    // non-benchmark sources scores EVERY doc's average log-probability.
    // Each bigram's log-prob is quantized to an integer (floor ×1000)
    // BEFORE the per-doc sum, so the sum is order-independent — a raw
    // double Σln() would differ between engines by summation order. The
    // LM tables are corpus artifacts; the scoring join is keyed on the
    // bigram (shuffle bounded by pair vocabulary, broadcast when small).
    "q105_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairRows = TextAnalysis.tokenPairRows(docs, "text", "doc_id")
      val lmPairs = ExtQueries.docSourcePairCounts(s, d)
        .where(col("source") =!= "src0")
        .groupBy(col("tok_a"), col("tok_b")).agg(sum(col("n")).as("cxy"))
      val lmUni = graft.ops.TransientCache.persist(
        ExtQueries.docSourceTokenCounts(s, d).where(col("source") =!= "src0")
          .groupBy(col("token")).agg(sum(col("cnt")).as("cx")))
      val vocab = lmUni.agg(count(lit(1)).as("v"))
      pairRows
        .join(lmPairs, Seq("tok_a", "tok_b"), "left")
        .join(lmUni.withColumnRenamed("token", "tok_a"), Seq("tok_a"), "left")
        .crossJoin(vocab)
        .withColumn("lp_q", expr(
          "CAST(floor(1000 * ln(CAST(coalesce(cxy, 0) + 1 AS DOUBLE) " +
            "/ CAST(coalesce(cx, 0) + v AS DOUBLE))) AS BIGINT)"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("sum_lp_q"))
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("sum_lp_q"),
          expr("CAST(floor(CAST(sum_lp_q AS DOUBLE) / n_bigrams) AS BIGINT)")
            .as("avg_lp_q"))
        .orderBy(col("doc_id"))
    }),

    // Kneser-Ney interpolated bigram LM scoring (Kneser & Ney 1995;
    // Chen & Goodman 1999) — the depth twin of q105's Laplace model:
    // absolute discount D = 0.75 on seen bigrams, with the freed mass
    // backing off to the CONTINUATION distribution (in how many distinct
    // contexts does this word appear — the "San Francisco" correction:
    // 'francisco' is frequent but only ever follows 'san', so its
    // continuation probability is tiny where a unigram backoff would
    // overrate it). Continuation counts are Laplace-floored so OOV words
    // keep a nonzero probability; an unseen CONTEXT scores by the
    // continuation distribution alone. All model tables are integer
    // count artifacts (bigram-type counts, fan-out/fan-in type counts,
    // vocab size); D = 0.75 is exactly representable in binary, the
    // discounted ratio and interpolation evaluate in a fixed written
    // order, and the single ln() quantizes to floor(×1000) BEFORE the
    // per-doc sum — q105's order-independence rule; the documented
    // ln-parity posture (Sampling.scala DSIR notes) applies.
    "q158_kn_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairRows = TextAnalysis.tokenPairRows(docs, "text", "doc_id")
      val lmPairs = graft.ops.TransientCache.persist(
        ExtQueries.docSourcePairCounts(s, d)
          .where(col("source") =!= "src0")
          .groupBy(col("tok_a"), col("tok_b")).agg(sum(col("n")).as("cxy")))
      val ctx = lmPairs.groupBy(col("tok_a"))
        .agg(sum(col("cxy")).as("c1"), count(lit(1)).as("n1f"))
      val cont = lmPairs.groupBy(col("tok_b")).agg(count(lit(1)).as("n1r"))
      val nn = lmPairs.agg(count(lit(1)).as("n1all"))
      val vocab = ExtQueries.docSourceTokenCounts(s, d)
        .where(col("source") =!= "src0")
        .select(col("token")).distinct().agg(count(lit(1)).as("v"))
      pairRows
        .join(lmPairs, Seq("tok_a", "tok_b"), "left")
        .join(ctx, Seq("tok_a"), "left")
        .join(cont, Seq("tok_b"), "left")
        .crossJoin(nn).crossJoin(vocab)
        .withColumn("lp_q", expr(
          "CAST(floor(1000 * ln(" +
            "CASE WHEN c1 IS NULL " +
            "THEN CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(n1all + v + 1 AS DOUBLE) " +
            "ELSE greatest(CAST(COALESCE(cxy, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) " +
            "+ 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) " +
            "* (CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(n1all + v + 1 AS DOUBLE)) " +
            "END)) AS BIGINT)"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("sum_lp_q"))
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("sum_lp_q"),
          expr("CAST(floor(CAST(sum_lp_q AS DOUBLE) / n_bigrams) AS BIGINT)")
            .as("avg_lp_q"))
        .orderBy(col("doc_id"))
    }),

    // Entity resolution by blocking + edit distance (Fellegi & Sunter
    // 1969 record-linkage shape, Newcombe-style blocking): distinct
    // part names block on their final token, candidate pairs form ONLY
    // inside a block (never names² — the one structural rule every
    // 100 TB linkage pipeline lives by), match = codegen'd
    // levenshtein <= 2, and matched names resolve to entities as
    // connected components over the match graph (transitive chaining is
    // the textbook ER caveat and is intentional: the oracle replays it
    // with a recursive CTE). Canonical entity = the name of the
    // min-partkey member, deterministic whatever the component
    // algorithm. Output: one row per distinct name with its entity and
    // both grains' part counts.
    "q159_entity_resolution" -> ((s, d) => {
      val nm = graft.ops.TransientCache.persist(
        Tables.part(s, d).groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("id"), count(lit(1)).as("n_parts")))
      // Blocking key = SECOND name token, matching the oracle's
      // split_part(p_name,' ',2) contract exactly (r7 advice: the
      // previous last-token form agreed with the oracle only because
      // the fixture's names are two tokens — same key convention as
      // q162's noun key).
      val blk = nm.select(col("p_name"), col("id"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
      val e0 = blk.as("a").join(blk.as("b"),
          col("a.noun") === col("b.noun") && col("a.id") < col("b.id"))
        .where(levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
        .select(col("a.id").as("ida"), col("b.id").as("idb"))
      val comps = graft.ext.Components.connectedComponentsAuto(e0, "ida", "idb")
      val lbl = nm.join(comps, nm("id") === comps("node"), "left")
        .select(col("p_name"), col("id"), col("n_parts"),
          coalesce(col("comp"), col("id")).as("lbl"))
      val entity = lbl.join(
        broadcast(nm.select(col("id").as("lbl"), col("p_name").as("entity"))),
        Seq("lbl"))
      val tot = entity.groupBy(col("entity"))
        .agg(count(lit(1)).as("n_names"), sum(col("n_parts")).as("entity_parts"))
      entity.join(tot, Seq("entity"))
        .select(col("p_name"), col("entity"), col("n_parts"),
          col("n_names"), col("entity_parts"))
        .orderBy(col("p_name"))
    }),

    // Fellegi–Sunter probabilistic record-linkage scoring (Fellegi &
    // Sunter, "A Theory for Record Linkage", 1969) — the SCORING model
    // classic ER pipelines put on top of blocking, next to q159's
    // candidate generation and q162's sorted neighborhood. Candidates
    // = distinct names sharing the second-token blocking key (q159's
    // contract); comparison fields = brand, type, size of each
    // name's min-partkey representative. Per-field u-probability
    // (chance agreement between two RANDOM records) is estimated from
    // the data as Σ f_v(f_v−1)/(N(N−1)) in milli, clamped to [1, 999]
    // (the "rare agreement still counts" guard that keeps both ratio
    // denominators alive); m is the textbook literal 950 milli for
    // every field — a stated modeling constant, not a fit. Per-field
    // milli likelihood ratios (m/u on agree, (1000−m)/(1000−u) on
    // disagree) multiply into ONE integer score — the monotone
    // product form of the classic log-odds sum, ≤ (9.5·10⁵)³ < 2⁶³,
    // so no logs and no overflow. Output: top-20 pairs with the
    // agreement pattern, total order (score desc, names). 100 TB:
    // u-estimation is a value-frequency aggregate, candidates are
    // blocking-bounded, the score is map-side algebra on a one-row
    // broadcast of the three u constants.
    "q261_fellegi_sunter" -> ((s, d) => {
      val rec = graft.ops.TransientCache.persist(
        Tables.part(s, d).groupBy(col("p_name"))
          .agg(min(struct(col("p_partkey"), col("p_brand"),
            col("p_type"), col("p_size"))).as("r"))
          .select(col("p_name"), col("r.p_brand").as("brand"),
            col("r.p_type").as("ptype"),
            col("r.p_size").cast("long").as("sz"),
            element_at(split(col("p_name"), " "), 2).as("noun")))
      val nTot = rec.agg(count(lit(1)).as("n_rec"))
      def uMilli(c: String) = rec.groupBy(col(c))
        .agg(count(lit(1)).as("f"))
        .agg(sum(expr("f * (f - 1)")).as("num"))
        .crossJoin(nTot)
        .select(expr(
          "greatest(least(CAST((1000 * num) DIV (n_rec * (n_rec - 1)) " +
            "AS BIGINT), 999L), 1L)").as(s"u_$c"))
      val us = uMilli("brand").crossJoin(uMilli("ptype"))
        .crossJoin(uMilli("sz"))
      def ratio(ag: String, u: String): Column =
        when(col(ag) === 1, expr(s"950000L DIV $u"))
          .otherwise(expr(s"50000L DIV (1000L - $u)"))
      rec.as("a").join(rec.as("b"),
          col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          (col("a.brand") === col("b.brand")).cast("int").as("ag_brand"),
          (col("a.ptype") === col("b.ptype")).cast("int")
            .as("ag_type"),
          (col("a.sz") === col("b.sz")).cast("int").as("ag_size"))
        .crossJoin(broadcast(us))
        .withColumn("score",
          ratio("ag_brand", "u_brand") * ratio("ag_type", "u_ptype") *
            ratio("ag_size", "u_sz"))
        .select(col("name_a"), col("name_b"), col("ag_brand"),
          col("ag_type"), col("ag_size"), col("score"))
        .orderBy(col("score").desc, col("name_a"), col("name_b"))
        .limit(20)
    }),

    // Sorted-neighborhood record linkage (Hernández & Stolfo 1995) —
    // the OTHER classic ER candidate strategy next to q159's blocking:
    // sort the names by a clustering key, compare only rank-adjacent
    // rows (window w = 4 ⇒ 3 lead() pairings per row — comparisons grow
    // LINEARLY in names, never blocks²), and run MULTIPLE passes with
    // different keys (noun-first, reversed-name) to close single-key
    // gaps. Output is the audit, q149's measurement pattern: recall of
    // the multi-pass candidate set against the exact blocking truth,
    // plus both methods' comparison counts — the linear-vs-quadratic
    // tradeoff the algorithm exists to buy. (Single-key recall on this
    // corpus is 16/24; the second pass closes it to 24/24.) At scale
    // the rank-adjacent pairing is a range-partitioned sort with w-1
    // boundary rows replicated per partition — still linear.
    "q162_sorted_neighbor_er" -> ((s, d) => {
      val nm = graft.ops.TransientCache.persist(
        Tables.part(s, d).select(col("p_name")).distinct())
      val kd = nm.select(col("p_name"),
        concat_ws(" ", element_at(split(col("p_name"), " "), 2),
          element_at(split(col("p_name"), " "), 1)).as("k1"),
        reverse(col("p_name")).as("k2"))
      def pass(keyCol: String): DataFrame = {
        val w = Window.orderBy(col(keyCol))
        kd.withColumn("b1", lead(col("p_name"), 1).over(w))
          .withColumn("b2", lead(col("p_name"), 2).over(w))
          .withColumn("b3", lead(col("p_name"), 3).over(w))
          .select(col("p_name").as("a_name"),
            explode(array(col("b1"), col("b2"), col("b3"))).as("b"))
          .where(col("b").isNotNull)
      }
      val cand = graft.ops.TransientCache.persist(
        pass("k1").union(pass("k2")).distinct())
      val sn = cand.where(levenshtein(col("a_name"), col("b")) <= 2)
        .select(least(col("a_name"), col("b")).as("name_a"),
          greatest(col("a_name"), col("b")).as("name_b")).distinct()
      val blk = nm.select(col("p_name"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
      val truth = graft.ops.TransientCache.persist(
        blk.as("a").join(blk.as("b"),
            col("a.noun") === col("b.noun") && col("a.p_name") < col("b.p_name"))
          .where(levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b")))
      val cTruth = truth.agg(count(lit(1)).as("n_truth"))
      val cTp = sn.join(truth, Seq("name_a", "name_b"))
        .agg(count(lit(1)).as("n_tp"))
      val cComp = cand.agg(count(lit(1)).as("n_sn_comparisons"))
      val cBlk = blk.groupBy(col("noun")).agg(count(lit(1)).as("m"))
        .agg(sum(expr("m * (m - 1) div 2")).as("n_blk_comparisons"))
      cTruth.crossJoin(cTp).crossJoin(cComp).crossJoin(cBlk)
        .select(col("n_truth"), col("n_tp"),
          expr("(1000000 * n_tp) div n_truth").as("recall_ppm"),
          col("n_sn_comparisons"), col("n_blk_comparisons"))
    }),

    // Full CUBE with grouping_id — the general grouping-sets form (q15
    // covers the ROLLUP chain): all 8 grouping sets over (returnflag,
    // linestatus, ship-year) in ONE pass. Spark expands the sets with
    // Expand over the partial aggregates (map-side combine before the
    // one shuffle); the integer-quantized quantity keeps every subtotal
    // bit-exact across engines. gid = the standard GROUPING bit vector
    // (MSB = leftmost column), so consumers can address any slice.
    "q160_cube_grouping" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"),
          expr("CAST(floor(l_quantity * 100) AS BIGINT)").as("qq"))
        .cube(col("l_returnflag"), col("l_linestatus"), col("ship_year"))
        .agg((grouping(col("l_returnflag")) * 4 +
          grouping(col("l_linestatus")) * 2 + grouping(col("ship_year")))
          .cast("int").as("gid"),
          count(lit(1)).as("n_items"), sum(col("qq")).as("qty_q"))
        .select(col("l_returnflag"), col("l_linestatus"), col("ship_year"),
          col("gid"), col("n_items"), col("qty_q"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"),
          col("ship_year"))),

    // CUSUM change-point detection (Page 1954) over the daily event
    // series: the one-sided cumulative-sum statistic
    // S_i = max(0, S_{i-1} + (x_i - mean)) — a recursion SQL can't
    // window directly — re-expressed by the prefix-sum identity
    // S_i = C_i - min(0, C_1..C_i) (the 0 term is the EMPTY prefix:
    // without it a series opening with positive deviations
    // under-reports — AnalyticsPropertySpec pins the identity against
    // the direct recursion), which IS window-expressible and scales
    // as two running aggregates per series, no self-join. Deviations
    // are pre-scaled by n (dev = n·x - T) so the mean never divides:
    // integer-exact end to end. is_peak marks the argmax day — where
    // the upward level shift is largest (ties break to the earliest
    // day). Series partition-parallel at any cardinality.
    "q161_cusum_changepoint" -> ((s, d) => {
      val daily = dailyAgg(Tables.events(s, d))
        .select(col("event_type"), col("day"), col("n_events").as("x"))
      val st = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wPk = Window.partitionBy(col("event_type"))
        .orderBy(col("cusum_q").desc, col("day"))
      daily.join(st, "event_type")
        .withColumn("dev", col("n") * col("x") - col("t"))
        .withColumn("c", sum(col("dev")).over(w))
        .withColumn("cusum_q", col("c") - least(min(col("c")).over(w), lit(0L)))
        .withColumn("is_peak",
          when(row_number().over(wPk) === 1, 1).otherwise(0).cast("int"))
        .select(col("event_type"), col("day"), col("x").as("n_events"),
          col("cusum_q"), col("is_peak"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Incremental aggregate maintenance: yesterday's persisted daily
    // aggregate merged with today's delta re-aggregate — the
    // "don't recompute the world" pattern every 100 TB rollup table
    // lives by (partial aggregates merge associatively, so the merge IS
    // a groupBy-sum over the union). The oracle recomputes from scratch:
    // equality proves the incremental identity.
    "q106_incremental_agg" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // a midnight cutoff: ts < cutoff iff its day < cutoff
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val oldAgg = dailyAgg(ev.where(col("ts") < cutoff))   // the persisted table
      val delta = dailyAgg(ev.where(col("ts") >= cutoff))   // today's load
      oldAgg.unionByName(delta)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n_events")).as("n_events"), sum(col("value_q")).as("value_q"))
        .orderBy(col("event_type"), col("day"))
        
    }),

    // HLL sketch-merge identity: registers built on two DISJOINT splits
    // of the fact, merged with union+max (the sketch's defining
    // operation — how per-day/per-table sketches combine at 100 TB
    // without touching raw data), then estimated. The oracle computes
    // registers over the whole fact directly: equality proves the merge
    // is lossless (max is associative over the register lattice).
    "q108_hll_merge" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def regs(part: DataFrame): DataFrame =
        graft.ext.Sketches.hllRegisters(part, "o_custkey", "o_orderpriority", 8)
      val merged = regs(o.where(col("o_orderkey") % 2 === 0))
        .unionByName(regs(o.where(col("o_orderkey") % 2 === 1)))
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg(max(col("r")).as("r"))
      graft.ext.Sketches.hllEstimateFromRegisters(merged, "o_orderpriority", 8)
        .orderBy(col("o_orderpriority"))
    }),

    // ANN recall audit: recall@3 of the IVF index against brute-force
    // ground truth, per query vector — the calibration every ANN
    // deployment runs before trusting an index (ground truth on a query
    // SAMPLE at scale; both sides are the existing oracle-gated
    // operators, so this query also pins their relative semantics).
    "q109_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = graft.ext.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 3)
        .select(col("query_id"), col("vec_id"))
      val approx = graft.ext.Similarity.ivfTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 3, 16, 2)
        .select(col("query_id"), col("vec_id"))
      val hits = truth.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      truth.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_ppm", expr("(1000000 * n_hit) div 3"))
        .orderBy(col("query_id"))
    }),

    // Selection-bias audit: Spearman rank correlation between document
    // quality and length per source — "does our quality score just
    // reward long documents?", the question every filter pipeline must
    // answer before quality-thresholding at corpus scale. Ranks are
    // type-1 (row_number with the doc_id tiebreak — deterministic on
    // both engines; the statistical tie-averaged Spearman is a
    // documented divergence), rho via the integer Σd² identity,
    // ppm-scaled. int64 envelope: 6·10⁶·Σd² with Σd² < n³ holds to
    // n ≈ 10⁴ docs per source at ppm scale — at corpus scale compute
    // per-stratum on the q56-style deterministic sample.
    "q192_spearman_quality_length" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val prof = ExtQueries.docProfile(s, d)
        .select(col("source"), col("doc_id"),
          col("n_tokens").cast("long").as("n_tok"), col("quality"))
      // Both signal ranks in ONE sharded rank pass over the unpivoted
      // (source, sig) grain — source is a ~20-value enum, so per-source
      // windows serialize (the r10 q155 shape).
      val sigs = prof.select(col("source"), col("doc_id"),
        explode(map(lit(1), col("n_tok"),
          lit(2), col("quality").cast("long"))).as(Seq("sig", "key")))
      val ranked = graft.ops.ShardedRank.withRank(
          sigs, Seq("source", "sig"), col("key"), col("doc_id"), "rn")
        .groupBy(col("source"), col("doc_id"))
        .agg(max(when(col("sig") === 1, col("rn"))).as("rl"),
          max(when(col("sig") === 2, col("rn"))).as("rq"))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum((col("rl") - col("rq")) * (col("rl") - col("rq"))).as("sum_d2"))
        .withColumn("rho_ppm",
          when(col("n") > 1,
            lit(1000000L) - expr("(6000000 * sum_d2) div (n * n * n - n)"))
            .otherwise(lit(1000000L)))
        .orderBy(col("source"))
    }),

    // ANN recall CURVE: q109's point audit swept over k ∈ {1, 3, 5} —
    // the operating-curve view (how fast does IVF recall decay with
    // depth), the ANN analogue of q181's precision/recall threshold
    // sweep. One truth and one approx ranking at depth 5, ranks kept;
    // each k level is a predicate over the SAME joined rank pairs, so
    // the sweep costs one extra small aggregate, not three index runs.
    "q189_ann_recall_curve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = graft.ext.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 5)
        .select(col("query_id"), col("vec_id"), col("rank").as("t_rank"))
      val approx = graft.ext.Similarity.ivfTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 5, 16, 2)
        .select(col("query_id"), col("vec_id"), col("rank").as("a_rank"))
      val joined = truth.join(approx, Seq("query_id", "vec_id"))
      val nq = truth.select(col("query_id")).distinct()
        .agg(count(lit(1)).as("nq"))
      val ksDf = nq.select(
        explode(array(lit(1L), lit(3L), lit(5L))).as("k"), col("nq"))
      val perK = joined
        .select(col("t_rank"), col("a_rank"),
          explode(array(lit(1L), lit(3L), lit(5L))).as("k"))
        .groupBy(col("k"))
        .agg(sum(when(col("t_rank") <= col("k") && col("a_rank") <= col("k"),
          lit(1L)).otherwise(lit(0L))).as("n_hit"))
      ksDf.join(perK, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("nq"))
        .withColumn("recall_ppm", expr("(1000000 * n_hit) div (k * nq)"))
        .select(col("k"), col("n_hit"), col("recall_ppm"))
        .orderBy(col("k"))
    }),

    // JL-projection recall audit — q109's pattern for the OTHER
    // approximate leg: recall@3 of cosine ranking in the Achlioptas
    // ±1-projected 8-dim space against the full-64-dim brute-force
    // truth. The projection magnitudes are what q28's LSH bits are the
    // 1-bit shadow of, so this query also measures how much ranking
    // signal the dimensionality cut (64→8, 8× fewer candidate bytes)
    // actually keeps on this corpus.
    "q163_jl_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = graft.ext.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 3)
        .select(col("query_id"), col("vec_id"))
      val approx = graft.ext.Similarity.jlTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, 3, 8)
        .select(col("query_id"), col("vec_id"))
      val hits = truth.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      truth.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_ppm", expr("(1000000 * n_hit) div 3"))
        .orderBy(col("query_id"))
    }),

    // Equi-join cardinality estimation — the optimizer's System-R
    // histogram estimator (Selinger et al. 1979) as a first-class
    // AUDITED query: both join sides build 32-bucket md5 key histograms
    // (rows + distinct keys per bucket), the estimate is
    // Σ_b nA·nB / max(dA, dB) (uniformity within a bucket, containment
    // across sides — the textbook assumptions, bucket-refined), and the
    // output scores it against the exact join count. This is what a
    // cost-based layer computes from table stats WITHOUT running the
    // join: each histogram is one map-side-combined aggregate, 32 rows
    // a side — the estimate costs two stat scans at any corpus size.
    // abs() keeps the error integer-division parity-safe (floor vs
    // truncation differ on negatives across engines).
    "q164_join_size_estimate" -> ((s, d) => {
      def hist(df: DataFrame, n: String, dd: String): DataFrame =
        df.withColumn("bkt",
            conv(substring(md5(col("k").cast("string").cast("binary")), 1, 8),
              16, 10).cast("long") % 32)
          .groupBy(col("bkt"))
          .agg(count(lit(1)).as(n), countDistinct(col("k")).as(dd))
      val ka = Tables.orders(s, d).select(col("o_custkey").as("k"))
      val kb = Tables.events(s, d).select(col("user_id").as("k"))
      val est = hist(ka, "na", "da").join(hist(kb, "nb", "db"), "bkt")
        .agg(sum(expr("na * nb div greatest(da, db)")).as("n_est"))
      val exact = ka.join(kb, "k").agg(count(lit(1)).as("n_exact"))
      exact.crossJoin(est)
        .select(col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overest"),
          expr("(1000000 * abs(n_est - n_exact)) div n_exact").as("err_abs_ppm"))
    }),

    // Sliding-window reach: 7-day windows sliding by 1 day (each event
    // lands in 7 overlapping windows) with exact distinct users — the
    // rolling-reach metric, via Spark's native sliding window()
    // generator (epoch-aligned day boundaries, which the oracle states
    // as a calendar join). Distinct from q95's ROWS frame: window() is
    // a generator + aggregate, no dense grid needed.
    "q110_sliding_reach" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "7 days", "1 day").as("w"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
          col("n_users"), col("n_events"))
        .orderBy(col("win_start"))
        ),

    // 7-day rolling sums over the SPARSE daily aggregate via a RANGE
    // window frame (order by epoch-day, range [-6, 0]) — no dense grid
    // needed: the frame is value-bounded, so missing days simply
    // contribute nothing. The frame-mechanism counterpart to q95's
    // ROWS-over-grid form.
    // Burst detection: each user's peak 1-minute event rate per type —
    // a RANGE frame over event-time microseconds counts the trailing
    // 60 s at every event (exact sliding count, no binning — the
    // boundary-straddling burst a tumbling window would split), then
    // the per-(user, type) max rolls up to a per-type burst histogram.
    // The rate-limit tuning view next to q175's inter-arrival
    // quantiles: q175 says how often events arrive, this says how hard
    // they cluster.
    "q195_burst_detection" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us")).rangeBetween(-59999999L, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("burst", count(lit(1)).over(w))
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("burst")).as("max_burst_1min"))
        .groupBy(col("event_type"), col("max_burst_1min"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"), col("max_burst_1min"))
    }),

    "q111_range_frame" -> ((s, d) => {
      val daily = dailyAgg(Tables.events(s, d))
        .withColumn("day_num",
          expr("CAST(datediff(CAST(day AS DATE), DATE '1970-01-01') AS BIGINT)"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("r7_n", sum(col("n_events")).over(w))
        .withColumn("r7_value_q", sum(col("value_q")).over(w))
        .select(col("event_type"), col("day"), col("n_events"),
          col("value_q"), col("r7_n"), col("r7_value_q"))
        .orderBy(col("event_type"), col("day"))
        
    }),

    // Snapshot reconciliation via FULL OUTER join: two overlapping
    // extraction windows of the daily aggregate compared key-by-key —
    // added / removed / same per (type, day), the diff report a
    // warehouse reload publishes.
    "q112_snapshot_reconcile" -> ((s, d) => {
      // both join branches read the aggregate: persisted, one fact scan
      val daily = graft.ops.TransientCache.persist(
        dailyAgg(Tables.events(s, d)).select(col("event_type"), col("day"),
          col("n_events").as("n")))
      val cutA = lit("2024-01-21 00:00:00").cast("timestamp")
      val cutB = lit("2024-01-11 00:00:00").cast("timestamp")
      val a = daily.where(col("day") < cutA)
        .select(col("event_type"), col("day"), col("n").as("n_a"))
      val b = daily.where(col("day") >= cutB)
        .select(col("event_type"), col("day"), col("n").as("n_b"))
      a.join(b, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          coalesce(col("n_a"), lit(-1L)).as("n_a"),
          coalesce(col("n_b"), lit(-1L)).as("n_b"),
          when(col("n_a").isNull, lit("added"))
            .when(col("n_b").isNull, lit("removed"))
            .when(col("n_a") === col("n_b"), lit("same"))
            .otherwise(lit("changed")).as("status"))
        .orderBy(col("event_type"), col("day"))
        
    }),

    // Vocabulary set algebra between two sources: INTERSECT / EXCEPT
    // (both directions) / UNION distinct counts — the set operators the
    // relational surface hadn't exercised, over the distinct token sets.
    "q113_vocab_setops" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def vocab(src: String): DataFrame =
        ExtQueries.docSourceTokenCounts(s, d).where(col("source") === src)
          .select(col("token"))
      // each vocabulary feeds four set operations: persisted, so the
      // tokenize + distinct runs once per side, not four times
      val a = graft.ops.TransientCache.persist(vocab("src1"))
      val b = graft.ops.TransientCache.persist(vocab("src2"))
      def cnt(op: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_tokens")).select(lit(op).as("op"),
          col("n_tokens"))
      cnt("except_a", a.except(b))
        .unionAll(cnt("except_b", b.except(a)))
        .unionAll(cnt("intersect", a.intersect(b)))
        .unionAll(cnt("union", a.union(b).distinct()))
        .orderBy(col("op"))
    }),

    // Keyset pagination (T4's 100 TB OFFSET replacement,
    // MemberOps.keysetPage's predicate shape) end-to-end: the page-1
    // tail is computed AS PART OF THE PLAN (a 1-row broadcast cursor, no
    // driver round-trip) and page 2 is the strictly-after
    // (caption, unique_name) fetch — no skip-scan, the index-seek form
    // OFFSET can't give.
    "q114_keyset_page" -> ((s, d) => {
      val m = Relational.members(s, d)
        .where(col("JERARQUIA") === "[Customer].[Geo]")
        .select(col("MIEMBRO_CAPTION").as("caption"),
          col("MIEMBRO_UNIQUE_NAME").as("unique_name"))
      val cursor = m.orderBy(col("caption"), col("unique_name")).limit(10)
        .orderBy(col("caption").desc, col("unique_name").desc).limit(1)
        .select(col("caption").as("c_cap"), col("unique_name").as("c_un"))
      m.crossJoin(broadcast(cursor))
        .where(col("caption") > col("c_cap") ||
          (col("caption") === col("c_cap") && col("unique_name") > col("c_un")))
        .orderBy(col("caption"), col("unique_name")).limit(10)
        .select(col("caption"), col("unique_name"))
    }),

    // KMV (k-minimum-values) distinct sketches (Bar-Yossef et al. 2002;
    // the theta-sketch family): per-source token sketches of the k=64
    // smallest md5-derived u32 hashes, with the union sketch = k
    // smallest of the merged streams — so |A∪B| estimates WITHOUT
    // re-reading raw data, and |A∩B| follows by inclusion-exclusion
    // (the set algebra HLL registers cannot do). Estimate
    // est = floor((k-1)·2^32 / h_k) is integer-exact; exact counts ride
    // along as the calibration columns (q113's set ops are the
    // from-scratch twin).
    "q115_kmv_sketch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val k = 16
      def hashes(src: String): DataFrame =
        ExtQueries.docSourceTokenCounts(s, d).where(col("source") === src)
          .select(col("token"))
          .select(expr(
            "CAST(conv(substring(md5(CAST(token AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
            .as("h")).distinct()
      // sketch = the k smallest hashes: (k-th value, entries held);
      // under-full sketch (< k entries) holds the WHOLE set -> exact
      def sketch(hs: DataFrame, sfx: String): DataFrame =
        hs.orderBy(col("h")).limit(k)
          .agg(max(col("h")).as(s"hk$sfx"), count(lit(1)).as(s"ns$sfx"))
      def est(sfx: String): Column =
        when(col(s"ns$sfx") < k, col(s"ns$sfx"))
          .otherwise(floor(lit((k - 1) * 4294967296.0) /
            col(s"hk$sfx").cast("double")).cast("long"))
      val ha = graft.ops.TransientCache.persist(hashes("src1"))
      val hb = graft.ops.TransientCache.persist(hashes("src2"))
      val hu = ha.union(hb).distinct()
      val exact = ha.agg(count(lit(1)).as("n_a"))
        .crossJoin(hb.agg(count(lit(1)).as("n_b")))
        .crossJoin(hu.agg(count(lit(1)).as("n_union")))
      sketch(ha, "_a").crossJoin(sketch(hb, "_b"))
        .crossJoin(sketch(hu, "_u")).crossJoin(exact)
        .select(lit(k).cast("bigint").as("k"),
          est("_a").as("est_a"), est("_b").as("est_b"),
          est("_u").as("est_union"),
          (est("_a") + est("_b") - est("_u")).as("est_intersect"),
          col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_intersect"))
    }),

    // KMV overlap MATRIX: q115's two-source sketch algebra extended to
    // ALL source pairs at sketch cost — ONE pass over the corpus builds
    // a k=32 sketch per source (a per-source window top-k), and every
    // pairwise union/intersection estimate derives from the SKETCHES
    // alone (k-min of A∪B is a subset of K(A) ∪ K(B), the KMV closure
    // property — Beyer et al. 2007). At 100 TB this is the only
    // tractable shape for a sources² similarity matrix: after the one
    // corpus aggregate, the pair stage touches 20·k = 640 rows, so
    // adding a source costs one sketch, not a corpus re-scan. The pair
    // expansion is sketch×pairs (both driver-trivial), never data×data.
    "q151_kmv_overlap_matrix" -> ((s, d) => {
      val k = 32
      val h = ExtQueries.docSourceTokenCounts(s, d)
        .select(col("source"),
          expr("CAST(conv(substring(md5(CAST(token AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
            .as("h"))
        .distinct()
      val wS = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = graft.ops.TransientCache.persist(
        h.withColumn("rn", row_number().over(wS)).where(col("rn") <= k)
          .select(col("source"), col("h")))
      val per = sk.groupBy(col("source"))
        .agg(max(col("h")).as("hk"), count(lit(1)).as("ns"))
      val pairs = per.as("pa").join(per.as("pb"),
          col("pa.source") < col("pb.source"))
        .select(col("pa.source").as("source_a"), col("pb.source").as("source_b"),
          col("pa.hk").as("hk_a"), col("pa.ns").as("ns_a"),
          col("pb.hk").as("hk_b"), col("pb.ns").as("ns_b"))
      val unionRows = pairs.select(col("source_a"), col("source_b"))
        .join(sk, col("source") === col("source_a") ||
          col("source") === col("source_b"))
        .select(col("source_a"), col("source_b"), col("h")).distinct()
      val wU = Window.partitionBy(col("source_a"), col("source_b"))
        .orderBy(col("h"))
      val us = unionRows.withColumn("rn", row_number().over(wU))
        .where(col("rn") <= k)
        .groupBy(col("source_a"), col("source_b"))
        .agg(max(col("h")).as("hk_u"), count(lit(1)).as("ns_u"))
      def est(hk: String, ns: String): Column =
        when(col(ns) < k, col(ns))
          .otherwise(floor(lit((k - 1) * 4294967296.0) /
            col(hk).cast("double")).cast("long"))
      pairs.join(us, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"),
          est("hk_a", "ns_a").as("est_a"), est("hk_b", "ns_b").as("est_b"),
          est("hk_u", "ns_u").as("est_union"))
        .withColumn("est_intersect",
          col("est_a") + col("est_b") - col("est_union"))
        .withColumn("jaccard_ppm",
          expr("(1000000 * greatest(est_intersect, CAST(0 AS BIGINT))) div est_union"))
        .orderBy("source_a", "source_b")
    }),

    // 2-itemset co-occurrence mining: top-30 token pairs by the number
    // of documents containing BOTH (market-basket level 1) — pairs
    // expand map-side from each doc's sorted distinct token set, never
    // a corpus self-join.
    "q116_cooccurrence" -> ((s, d) =>
      TextAnalysis.tokenCooccurrence(Tables.documents(s, d), "text", "doc_id")
        .orderBy(col("n").desc, col("tok_a"), col("tok_b")).limit(30)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("tok_a"), col("tok_b"))).cast("int"))
        .select(col("rank"), col("tok_a"), col("tok_b"), col("n"))
        .orderBy(col("rank"))),

    // Triangle census of the kNN similarity graph: undirected edges
    // (either direction of a kNN link), triangles by the ordered
    // two-hop join (a<b<c — each triangle counted once), wedges from
    // the degree table, global clustering coefficient in ppm — the
    // graph-shape audit that says whether similar-doc neighborhoods are
    // cliquey (near-dup clusters) or chain-like.
    "q117_knn_triangles" -> ((s, d) => {
      val und = graft.ops.TransientCache.persist(
        ExtQueries.knnEdges(s, d)
          .select(least(col("vec_id"), col("nbr_id")).as("a"),
            greatest(col("vec_id"), col("nbr_id")).as("b"))
          .distinct())
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
      val edges = und.agg(count(lit(1)).as("n_edges"))
      tri.crossJoin(edges).crossJoin(stats)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          expr("(1000000 * 3 * n_triangles) div n_wedges").as("clustering_ppm"))
    }),

    // First-seen curve: per day, how many users appear for the FIRST
    // time and the cumulative user base — the acquisition view a
    // running aggregate gives without windowed distincts (first-seen is
    // a per-user min, then an ordinary daily count + running sum).
    "q118_new_users" -> ((s, d) => {
      val firstSeen = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      firstSeen.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("n_new"))
        .withColumn("cum_users", sum(col("n_new")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy(col("day"))
        
    }),

    // Population stability index (PSI) — the data-drift monitor a
    // production pipeline runs between a reference and a current
    // population: add-1-smoothed 64-bin length histograms, per-bin
    // contribution (p−q)·ln(p/q) quantized to nano-units BEFORE the sum
    // (the q105 trick: the total is then independent of summation
    // order). All 64 bins materialize from a generated bin spine, so
    // empty bins carry their smoothed mass on both sides.
    "q119_psi_drift" -> ((s, d) => {
      val v = Tables.documents(s, d).select(col("doc_id"), col("n_chars").as("x"))
      val b = v.agg(min(col("x")).as("gmin"), max(col("x")).as("gmax"))
      val binned = v.crossJoin(b)
        .withColumn("w", psiWidth(col("gmin"), col("gmax"), 64))
        .withColumn("bin", psiBin(col("x"), col("gmin"), col("w"), 64))
        .withColumn("pop",
          when(col("doc_id") % 2 === 0, lit("ref")).otherwise(lit("cur")))
      val counts = binned.groupBy(col("bin"))
        .agg(sum(when(col("pop") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("pop") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val sm = s.range(64).select(col("id").as("bin"))
        .join(counts, Seq("bin"), "left")
        .select(col("bin"),
          (coalesce(col("n_ref"), lit(0L)) + lit(1L)).as("c_ref"),
          (coalesce(col("n_cur"), lit(0L)) + lit(1L)).as("c_cur"))
      val tot = sm.agg(sum(col("c_ref")).as("t_ref"),
        sum(col("c_cur")).as("t_cur"))
      sm.crossJoin(tot)
        .withColumn("term_q", expr(
          "CAST(floor(1000000000 * ((CAST(c_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) " +
            "- CAST(c_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)) " +
            "* ln((CAST(c_ref AS DOUBLE) * CAST(t_cur AS DOUBLE)) " +
            "/ (CAST(c_cur AS DOUBLE) * CAST(t_ref AS DOUBLE))))) AS BIGINT)"))
        .select(col("bin"), col("c_ref"), col("c_cur"), col("term_q"))
        .orderBy(col("bin"))
    }),

    // Temperature-scaled mixing weights (α = 0.5 — the multilingual
    // sampling rule of mT5/XLM-R: p_l ∝ n_l^α, upweighting low-resource
    // slices): per-language token masses are exact integers; the ONE
    // float reduction (Σ√n) folds over the language-sorted array, so
    // every engine adds in the same order and the ppm shares are
    // bit-identical (a plain SUM of doubles would be order-dependent).
    "q120_temperature_mix" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("lang"),
          size(TextAnalysis.tokens(TextAnalysis.normalize(col("text"))))
            .cast("bigint").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
      val tot = counts
        .agg(sort_array(collect_list(struct(col("lang"), col("n_tokens"))))
          .as("arr"))
        .select(expr(
          "aggregate(transform(arr, x -> sqrt(CAST(x.n_tokens AS DOUBLE))), " +
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)").as("tot"))
      counts.crossJoin(tot)
        .select(col("lang"), col("n_tokens"),
          expr("CAST(floor(1000000 * (sqrt(CAST(n_tokens AS DOUBLE)) / tot)) AS BIGINT)")
            .as("share_ppm"))
        .orderBy(col("lang"))
    }),

    // Per-source Gini coefficient of token frequencies — vocabulary
    // concentration (is a slice dominated by a few tokens?), from the
    // rank formula G = (2·Σ i·fᵢ − (n+1)·Σ fᵢ) / (n·Σ fᵢ) over
    // ascending-sorted frequencies: every term is an exact integer, so
    // the ppm score is engine-identical with no float anywhere.
    "q121_token_gini" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = ExtQueries.docSourceTokenCounts(s, d)
        .select(col("source"), col("token"), col("cnt").as("f"))
      val w = Window.partitionBy(col("source")).orderBy(col("f"), col("token"))
      tf.withColumn("i", row_number().over(w).cast("bigint"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("f")).as("n_occ"),
          sum(col("i") * col("f")).as("si"))
        .select(col("source"), col("n_tokens"), col("n_occ"),
          expr("(1000000 * (2 * si - (n_tokens + 1) * n_occ)) div (n_tokens * n_occ)")
            .as("gini_ppm"))
        .orderBy(col("source"))
    }),

    // Gap sessionization via Spark's NATIVE session_window aggregate
    // (the merging-session-window operator, one shuffle on the user
    // key) — the engine-native twin of q45's lag+running-sum form; the
    // oracle states the same semantics relationally. Session spans
    // [first_ts, last_ts + gap); an event exactly at the gap boundary
    // starts a new session.
    "q107_session_native" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
        ),

    // Exact GLOBAL order statistics (p25/p50/p75/p90/p99) with no
    // single-partition sort — the corpus-scale form of q57/q182's
    // per-group rank-crossing, which relies on a partition key a global
    // statistic doesn't have. Value-bucket the cents; a bucket-count
    // table + ops.BucketedPrefix running sum locates each rank's host
    // bucket; a window PARTITIONED by bucket (≤ bucketWidth distinct
    // values) crosses the residual rank inside only the host buckets.
    // Type-1 (lower) statistics — k = (n−1)·p/100 + 1 — so every answer
    // is a REAL data value, no interpolation semantics to reconcile.
    // 100 TB: two bucket-grain shuffles + one value-grain window over
    // the semi-join-pruned host buckets; nothing global is ever sorted,
    // and the rank table is 5 rows however large the corpus.
    "q269_global_quantiles" -> ((s, d) => {
      val bw = 16384L
      val v = Tables.lineitem(s, d)
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("c"))
      val bcnt = v.groupBy(expr(s"c div $bw").as("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val brun = graft.ops.BucketedPrefix
        .runningSums(bcnt, "bkt", Seq("cnt"), 64L)
      val n = v.agg(count(lit(1)).as("n"))
      val ks = s.range(1)
        .select(explode(array(Seq(25, 50, 75, 90, 99).map(lit): _*)).as("pq"))
        .crossJoin(n)
        .select(col("pq").cast("bigint").as("p"),
          expr("((n - 1) * pq) div 100 + 1").as("k"))
      val tgt = ks.join(brun,
          col("run_cnt") >= col("k") && col("run_cnt") - col("cnt") < col("k"))
        .select(col("p"), col("k"), col("bkt"),
          (col("run_cnt") - col("cnt")).as("base"))
      val wB = Window.partitionBy(col("bkt")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inB = v.withColumn("bkt", expr(s"c div $bw"))
        .join(broadcast(tgt.select(col("bkt")).distinct()), Seq("bkt"),
          "left_semi")
        .groupBy(col("bkt"), col("c")).agg(count(lit(1)).as("vc"))
        .withColumn("vrun", sum(col("vc")).over(wB))
      tgt.join(inB, Seq("bkt"))
        .where(col("base") + col("vrun") >= col("k") &&
          col("base") + col("vrun") - col("vc") < col("k"))
        .select(col("p"), col("k"), col("c").as("value_cents"))
        .orderBy(col("p"))
    }),

    // Split-conformal coverage audit (Papadopoulos et al. 2002; Lei et
    // al. 2018) — the distribution-free way to turn ANY point
    // predictor into a calibrated accept band, which is how a curation
    // pipeline sets "flag documents whose length is surprising for
    // their source" without assuming a distribution. The calibration
    // split is the deterministic md5 draw (first hex digit < '8' —
    // the fixture stripes sources by doc_id % 20, so a parity split
    // would starve every source of one side); the predictor is the
    // per-source calibration mean (integer floor); the nonconformity
    // score is |n_chars − pred|; q̂ is the ⌈(n+1)(1−α)⌉-th smallest
    // calibration score (α = 1/10, type-1 rank — a REAL residual,
    // capped at n when the small-sample rank exceeds it); measured
    // test coverage in ppm sits next to the 900 000 target the
    // theorem guarantees in expectation. All-integer end to end.
    // 100 TB: one calibration aggregate per source (broadcast-scale),
    // rank via a window PARTITIONED by source, coverage a second
    // aggregate — no global sort, no self-join.
    "q271_conformal_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
            .between("0", "7").as("is_calib"))
      val calib = docs.where(col("is_calib"))
      val pred = calib.groupBy(col("source"))
        .agg(count(lit(1)).as("n_calib"),
          expr("sum(n_chars) div count(1)").as("pred"))
      val cres = calib.join(broadcast(pred), Seq("source"))
        .select(col("source"), col("n_calib"),
          abs(col("n_chars") - col("pred")).as("r"), col("doc_id"))
      // q̂ rank-crossing via the SHARDED rank (source is a ~20-value
      // enum; a per-source window serializes — the r10 q155 shape).
      val qhat = graft.ops.ShardedRank.withRank(
          cres, Seq("source"), col("r"), col("doc_id"), "rn")
        .where(col("rn") ===
          least(expr("((n_calib + 1) * 9 + 9) div 10"), col("n_calib")))
        .select(col("source"), col("n_calib"), col("r").as("qhat"))
      docs.where(!col("is_calib"))
        .join(broadcast(pred.select(col("source"), col("pred"))), Seq("source"))
        .join(broadcast(qhat), Seq("source"))
        .groupBy(col("source"), col("n_calib"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("n_chars") - col("pred")) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(col("source"), col("n_calib"), col("n_test"), col("qhat"),
          col("n_covered"),
          expr("(1000000 * n_covered) div n_test").as("coverage_ppm"))
        .orderBy(col("source"))
    })
  )

  /** THE (event_type, day, n_events, value_q) daily aggregate over an
    * events frame — every daily-grain query (q91, q95, q106, q111,
    * q112, q161, q171, q172, q209, q215, q227) consumes this one
    * construction (day = date_trunc, value quantized ×1000 to BIGINT),
    * so the quantization/truncation convention cannot fork between
    * them. Both columns fold with `+`, so the same function run on an
    * events stream in Update mode is the daily register table kept at
    * ingest (StreamingSpec-pinned, across batches and a checkpoint
    * restart). NOT persisted here — single-consumer queries use it
    * lazily; multi-consumer ones persist at their use site. */
  private[graft] def dailyAgg(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vq"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("vq")).as("value_q"))

  /** q237's two AQP legs per event_type, unscaled: the exact (n, Σcents)
    * and the 1/16 md5-nibble sample's (n, Σcents). All four fold with
    * `+`, so the same function run on an events stream in Update mode
    * keeps the registers at ingest, and a dashboard reads the ×16
    * Horvitz-Thompson estimates from them with no event re-scan. */
  private[graft] def aqpRegisters(events: DataFrame): DataFrame = {
    val inSample =
      substring(md5(col("event_id").cast("string").cast("binary")), 1, 1) === lit("0")
    events.select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        inSample.as("in_sample"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"),
        sum(col("cents")).as("sum_exact"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("sum_sample"))
  }

  /** The bin of value `x` over `nBins` bins of `width` from `gmin`,
    * clamped into [0, nBins − 1] — the equi-width histogram of q99 and
    * q119 and of q119's streaming twin
    * ([[graft.streaming.DocumentsStream.psiBinUpdates]]), whose frozen
    * edges must absorb drifted tails on both sides. */
  private[graft] def psiBin(x: Column, gmin: Column, width: Column,
                            nBins: Int): Column =
    least(greatest(call_function("div", x - gmin, width), lit(0L)),
      lit(nBins - 1L))

  /** The integer width of `nBins` equal bins spanning [gmin, gmax], at
    * least 1 — the [[psiBin]] width of q99 and q119. */
  private def psiWidth(gmin: Column, gmax: Column, nBins: Int): Column =
    greatest(call_function("div", gmax - gmin + lit(nBins - 1), lit(nBins)), lit(1))

  /** THE SCD-2 priority-dimension builder — q98's published dimension,
    * q102's lookup side, and the stream-static enrichment twin
    * ([[graft.streaming.EventsStream.enrichStaticDim]]) all derive from
    * this one window construction (version = row_number, valid_to =
    * lead with the 9999-12-31 sentinel), so the SCD contract cannot
    * fork. Columns keyed for the as-of machinery:
    * (user_id, ts = valid_from, priority, version, valid_to). */
  private[graft] def scdIntervals(s: SparkSession, d: String,
                                  keyLimit: Int = 150): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("o_orderkey"))
    // o_orderdate arrives NTZ from parquet while the open-interval
    // sentinel literal is session-tz TimestampType; cast the key to
    // TimestampType here so valid_from/valid_to share ONE type (the
    // events-side type the as-of machinery joins against) — r8: the
    // per-query Parity cast no longer papers over a mixed-type schema.
    Tables.orders(s, d).where(col("o_custkey") < keyLimit)
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_orderpriority").as("priority"), col("o_orderkey"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to", coalesce(lead(col("ts"), 1).over(w),
        expr("TIMESTAMP '9999-12-31 00:00:00'")))
      .drop("o_orderkey")
  }

  // ---------------------------------------------------------------- oracles

  /** Shared per-session NB quality-score table `(doc, clean, score_q,
    * pred_clean)` — trained once, consumed by BOTH the q145 confusion
    * audit and the q165 calibration audit (a pipeline scores its corpus
    * once and runs every audit off the stored scores; the bucketCounts
    * token pass is the expensive half and must not run per-audit). */
  private[queries] def nbScored(s: SparkSession, d: String): DataFrame =
    graft.ops.SessionCache.getOrBuild(s, s"nb_scored:$d") {
      val labels = TextAnalysis
        .gopherFlagsFromProfile(ExtQueries.docProfile(s, d))
        .select(col("doc_id").cast("long").as("doc"),
          col("pass_gopher").as("clean"))
      val docBuckets = graft.ops.TransientCache.persist(
        graft.ext.QualityClassifier.bucketCounts(
          Tables.documents(s, d), "text", "doc_id", 256))
      graft.ext.QualityClassifier.trainAndScore(docBuckets, labels, 256)
    }

  private val stopList =
    TextAnalysis.langStopwords.flatMap(_._2).map(w => s"'$w'").mkString(", ")
  private val enStopList = TextAnalysis.enStopwords

  /** The q145 NB train-and-score chain through `ds` (doc_id, clean,
    * score_q) — THE single SQL statement of the classifier's semantics,
    * shared by the q145 confusion audit and the q165 calibration audit
    * so neither oracle can drift from the other (the qeCtes/ivfAsgCtes
    * discipline). */
  private lazy val nbScoreCtes: String = {
    val stopPresent = enStopList
      .map(w => s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${ExtQueries.tokCte},
       |s AS (SELECT doc_id,
       |    CAST(len(t) AS BIGINT) n_words,
       |    CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) len_sum,
       |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) n_alpha,
       |    CAST($stopPresent AS BIGINT) n_stop_present
       |  FROM tok),
       |lab AS (SELECT doc_id,
       |    ((n_words >= 50 AND n_words <= 100000)
       |     AND (len_sum >= 3 * n_words AND len_sum <= 10 * n_words)
       |     AND (5 * n_alpha >= 4 * n_words)
       |     AND (n_stop_present >= 2)) clean
       |  FROM s),
       |p AS (SELECT doc_id, unnest(t) token FROM tok),
       |b AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 bucket FROM p),
       |db AS (SELECT doc_id, bucket, count(*) c FROM b GROUP BY 1, 2),
       |m AS (SELECT bucket,
       |        sum(CASE WHEN clean THEN c ELSE 0 END) cc,
       |        sum(CASE WHEN NOT clean THEN c ELSE 0 END) dc
       |      FROM db JOIN lab USING (doc_id) GROUP BY 1),
       |tot AS (SELECT sum(cc) tc, sum(dc) td FROM m),
       |nl AS (SELECT sum(CASE WHEN clean THEN 1 ELSE 0 END) n_clean,
       |         sum(CASE WHEN NOT clean THEN 1 ELSE 0 END) n_dirty FROM lab),
       |lam AS (SELECT bucket,
       |          CAST(floor(1000 * ln(
       |            (CAST(cc + 1 AS DOUBLE) * CAST(td + 256 AS DOUBLE)) /
       |            (CAST(dc + 1 AS DOUBLE) * CAST(tc + 256 AS DOUBLE)))) AS BIGINT) lambda
       |        FROM m, tot),
       |pr AS (SELECT CAST(floor(1000 * ln(
       |          CAST(n_clean AS DOUBLE) / CAST(n_dirty AS DOUBLE))) AS BIGINT) prior_q
       |       FROM nl),
       |sc AS (SELECT doc_id, CAST(sum(c * lambda) AS BIGINT) ll
       |       FROM db JOIN lam USING (bucket) GROUP BY 1),
       |ds AS (SELECT lab.doc_id, clean,
       |         COALESCE(ll, 0) + prior_q score_q
       |       FROM lab LEFT JOIN sc USING (doc_id), pr)""".stripMargin
  }

  /** One PageRank iteration as a CTE pair (contribution agg + rebase). */
  private def prIter(i: Int): String =
    s"""c$i AS (SELECT e.v node,
       |    CAST(sum((p.pr * 17) // (20 * od.od)) AS BIGINT) cin
       |  FROM edges e JOIN od USING (u) JOIN p${i - 1} p ON p.node = e.u
       |  GROUP BY 1),
       |p$i AS (SELECT nd.node, CAST(150000 + COALESCE(cin, 0) AS BIGINT) pr
       |        FROM nd LEFT JOIN c$i USING (node))""".stripMargin

  /** q109's brute-truth + IVF ranking chains generalized to depth `k`
    * with ranks kept: ends at `bt(query_id, vec_id, rank)` (exact
    * cosine top-k) and `it(query_id, vec_id, rank)` (IVF nprobe=2
    * top-k) — shared by the q109 point audit and the q189 recall curve
    * so the two legs cannot drift. */
  private def annTruthIvfCtes(k: Int): String =
    s"""${ExtQueries.ivfAsgCtes},
       |bsc AS (SELECT q.vec_id query_id, c.vec_id vec_id,
       |         CAST(list_dot_product(q.q, c.q) AS BIGINT) dot,
       |         nq.n nq, nc.n nc
       |       FROM qe q
       |       JOIN qe c ON c.vec_id <> q.vec_id
       |       JOIN nrm nq ON q.vec_id = nq.vec_id
       |       JOIN nrm nc ON c.vec_id = nc.vec_id
       |       WHERE q.vec_id < 10),
       |bt AS (SELECT query_id, vec_id, rank FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
       |                 vec_id) rank
       |    FROM bsc) WHERE rank <= $k),
       |probes AS (SELECT vec_id query_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn
       |    FROM asg0 WHERE vec_id < 10) WHERE rn <= 2),
       |isc AS (SELECT p.query_id, a.vec_id,
       |    CAST(list_dot_product(qq.q, cq.q) AS BIGINT) dot, nq.n nq, nc.n nc
       |  FROM probes p
       |  JOIN asg a ON p.cid = a.cid AND a.vec_id <> p.query_id
       |  JOIN qe qq ON p.query_id = qq.vec_id
       |  JOIN qe cq ON a.vec_id = cq.vec_id
       |  JOIN nrm nq ON p.query_id = nq.vec_id
       |  JOIN nrm nc ON a.vec_id = nc.vec_id),
       |it AS (SELECT query_id, vec_id, rank FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
       |                 vec_id) rank
       |    FROM isc) WHERE rank <= $k)""".stripMargin

  val oracles: Map[String, String] = Map(

    // q204 oracle: the identical literal-threshold Poisson draw, shift
    // arithmetic, and type-1 order statistics re-derived in SQL.
    "q204_bootstrap_ci" ->
      s"""${ExtQueries.tokCte},
         |q AS (SELECT doc_id, ${ExtQueries.qualitySql} AS quality FROM tok),
         |qs AS (SELECT q.doc_id, d.source, q.quality
         |       FROM q JOIN documents d USING (doc_id)),
         |reps AS (SELECT doc_id, source, quality, b
         |         FROM qs CROSS JOIN (SELECT unnest(range(0, 64)) b) r),
         |w AS (SELECT source, b, quality,
         |        ${graft.ext.Sampling.poissonWeightSql(
                    "doc_id::VARCHAR || '|' || b::VARCHAR")} w
         |      FROM reps),
         |rm AS (SELECT source, b,
         |        CAST((1000 * sum(w * (quality + 50))) // sum(w) AS BIGINT)
         |          - 50000 mean_q
         |       FROM w GROUP BY 1, 2),
         |rk AS (SELECT source, mean_q,
         |        row_number() OVER (PARTITION BY source ORDER BY mean_q) rn
         |       FROM rm),
         |ci AS (SELECT source,
         |        min(CASE WHEN rn = 2 THEN mean_q END) boot_lo_milli,
         |        min(CASE WHEN rn = 63 THEN mean_q END) boot_hi_milli
         |       FROM rk GROUP BY 1),
         |pt AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
         |        CAST((1000 * sum(quality + 50)) // count(*) AS BIGINT)
         |          - 50000 mean_q_milli
         |       FROM qs GROUP BY 1)
         |SELECT pt.source, n_docs, mean_q_milli, boot_lo_milli, boot_hi_milli
         |FROM pt JOIN ci USING (source) ORDER BY source""".stripMargin,

    "q88_pivot_priority" -> {
      val cells = priorities.zip(prioAlias).map { case (p, a) =>
        s"CAST(COALESCE(sum(CASE WHEN pri = '$p' THEN cents END), 0) AS BIGINT) AS $a"
      }.mkString(",\n  ")
      val total = s"CAST(${prioAlias.mkString(" + ")} AS BIGINT)"
      s"""WITH rows_ AS (SELECT n_name, o_orderpriority pri,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) cents
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey),
         |p AS (SELECT n_name,
         |  $cells
         |FROM rows_ GROUP BY 1)
         |SELECT n_name, ${prioAlias.mkString(", ")},
         |  $total AS row_total
         |FROM p ORDER BY n_name""".stripMargin
    },

    "q89_gopher_rules" -> {
      val stopPresent = enStopList
        .map(w => s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""${ExtQueries.tokCte},
         |s AS (SELECT doc_id,
         |    CAST(len(t) AS BIGINT) n_words,
         |    CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) len_sum,
         |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) n_alpha,
         |    CAST($stopPresent AS BIGINT) n_stop_present
         |  FROM tok)
         |SELECT doc_id, n_words, len_sum, n_alpha, n_stop_present,
         |  (n_words >= 50 AND n_words <= 100000) AS flag_word_count,
         |  (len_sum >= 3 * n_words AND len_sum <= 10 * n_words) AS flag_mean_len,
         |  (5 * n_alpha >= 4 * n_words) AS flag_alpha,
         |  (n_stop_present >= 2) AS flag_stop,
         |  ((n_words >= 50 AND n_words <= 100000)
         |   AND (len_sum >= 3 * n_words AND len_sum <= 10 * n_words)
         |   AND (5 * n_alpha >= 4 * n_words)
         |   AND (n_stop_present >= 2)) AS pass_gopher
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q145_nb_quality" ->
      s"""$nbScoreCtes
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_label_clean,
         |  CAST(sum(CASE WHEN score_q > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_clean,
         |  CAST(sum(CASE WHEN (score_q > 0) = clean THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         |FROM ds JOIN documents USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q165_nb_calibration" ->
      s"""$nbScoreCtes,
         |dec AS (SELECT clean, score_q,
         |    ntile(10) OVER (ORDER BY score_q, doc_id) decile FROM ds)
         |SELECT CAST(decile AS INT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(min(score_q) AS BIGINT) AS score_min,
         |  CAST(max(score_q) AS BIGINT) AS score_max,
         |  CAST((1000000 * sum(CASE WHEN clean THEN 1 ELSE 0 END)) // count(*)
         |    AS BIGINT) AS clean_rate_ppm
         |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin,

    "q90_price_regression" ->
      """WITH j AS (SELECT n_name,
        |    CAST(floor(l_quantity) AS BIGINT) x,
        |    CAST(floor(l_extendedprice) AS BIGINT) y
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |st AS (SELECT n_name, count(*) n,
        |    CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
        |    CAST(sum(x * y) AS BIGINT) sxy,
        |    CAST(sum(x * x) AS BIGINT) sxx,
        |    CAST(sum(y * y) AS BIGINT) syy
        |  FROM j GROUP BY 1),
        |m AS (SELECT n_name, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) cov_d,
        |    CAST(n * sxx - sx * sx AS DOUBLE) varx_d,
        |    CAST(n * syy - sy * sy AS DOUBLE) vary_d,
        |    CAST(sx AS DOUBLE) sx_d, CAST(sy AS DOUBLE) sy_d
        |  FROM st),
        |sl AS (SELECT *, cov_d / varx_d AS slope FROM m)
        |SELECT n_name, CAST(n AS BIGINT) AS n, slope,
        |  (sy_d - slope * sx_d) / CAST(n AS DOUBLE) AS intercept,
        |  cov_d / sqrt(varx_d * vary_d) AS corr
        |FROM sl ORDER BY n_name""".stripMargin,

    "q91_daily_gapfill" ->
      """WITH ev AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) d,
        |    CAST(floor(value * 1000) AS BIGINT) vq
        |  FROM events),
        |daily AS (SELECT event_type, d, count(*) n_events,
        |    CAST(sum(vq) AS BIGINT) value_q
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(d) d0, max(d) d1 FROM ev),
        |cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) d FROM b),
        |grid AS (SELECT event_type, d
        |         FROM (SELECT DISTINCT event_type FROM ev) ty CROSS JOIN cal)
        |SELECT g.event_type, g.d AS "day",
        |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        |  CAST(COALESCE(value_q, 0) AS BIGINT) AS value_q,
        |  CAST(sum(COALESCE(value_q, 0)) OVER (PARTITION BY g.event_type
        |    ORDER BY g.d) AS BIGINT) AS cum_value_q
        |FROM grid g LEFT JOIN daily USING (event_type, d)
        |ORDER BY 1, 2""".stripMargin,

    "q92_block_dedup" ->
      s"""${ExtQueries.tokCte},
         |u AS (SELECT doc_id, t FROM tok WHERE len(t) > 0),
         |b AS (SELECT doc_id, unnest(range((len(t) + 19) // 20)) blk_idx, t FROM u),
         |h AS (SELECT doc_id, blk_idx,
         |    md5(array_to_string(list_slice(t, blk_idx * 20 + 1, blk_idx * 20 + 20), ' ')) block_hash
         |  FROM b),
         |f AS (SELECT doc_id, blk_idx, block_hash,
         |    row_number() OVER (PARTITION BY block_hash ORDER BY doc_id, blk_idx) rn,
         |    count(*) OVER (PARTITION BY block_hash) cnt
         |  FROM h)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST((1000000 * sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS dup_ppm
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q93_pagerank" ->
      s"""${ExtQueries.knnCtes},
         |edges AS (SELECT vec_id u, nbr_id v FROM r WHERE rank <= 3),
         |od AS (SELECT u, count(*) od FROM edges GROUP BY 1),
         |nd AS (SELECT DISTINCT node FROM
         |       (SELECT u node FROM edges UNION ALL SELECT v FROM edges)),
         |p0 AS (SELECT node, CAST(1000000 AS BIGINT) pr FROM nd),
         |${prIter(1)},
         |${prIter(2)},
         |${prIter(3)}
         |SELECT node AS vec_id, pr FROM p3 ORDER BY vec_id""".stripMargin,

    "q148_textrank" ->
      s"""${ExtQueries.tokCte},
         |pp AS (SELECT t[i] a, t[i+1] b
         |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
         |       WHERE len(t) >= 2),
         |e1 AS (SELECT a, b FROM pp WHERE a <> b
         |       GROUP BY 1, 2 HAVING count(*) >= 3),
         |edges AS (SELECT a u, b v FROM e1 UNION SELECT b, a FROM e1),
         |od AS (SELECT u, count(*) od FROM edges GROUP BY 1),
         |nd AS (SELECT DISTINCT node FROM
         |       (SELECT u node FROM edges UNION ALL SELECT v FROM edges)),
         |p0 AS (SELECT node, CAST(1000000 AS BIGINT) pr FROM nd),
         |${prIter(1)},
         |${prIter(2)},
         |${prIter(3)}
         |SELECT node AS token, pr FROM p3
         |ORDER BY pr DESC, token LIMIT 20""".stripMargin,

    "q94_metric_unpivot" ->
      s"""${ExtQueries.tokCte},
         |s AS (SELECT doc_id,
         |    CAST(len(t) AS BIGINT) n_tokens,
         |    CAST(len(list_distinct(t)) AS BIGINT) n_uniq,
         |    CAST(len(list_filter(t, x -> x IN ($stopList))) AS BIGINT) n_stop
         |  FROM tok),
         |u AS (SELECT 'n_chars' metric, n_chars v FROM documents
         |      UNION ALL SELECT 'n_stop', n_stop FROM s
         |      UNION ALL SELECT 'n_tokens', n_tokens FROM s
         |      UNION ALL SELECT 'n_uniq', n_uniq FROM s)
         |SELECT metric, count(*) AS n, min(v) AS vmin, max(v) AS vmax,
         |  CAST(sum(v) AS BIGINT) AS vsum
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q95_rolling_7d" ->
      """WITH ev AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) d,
        |    CAST(floor(value * 1000) AS BIGINT) vq
        |  FROM events),
        |daily AS (SELECT event_type, d, count(*) n_events,
        |    CAST(sum(vq) AS BIGINT) value_q
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(d) d0, max(d) d1 FROM ev),
        |cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) d FROM b),
        |grid AS (SELECT event_type, d
        |         FROM (SELECT DISTINCT event_type FROM ev) ty CROSS JOIN cal),
        |g0 AS (SELECT g.event_type, g.d,
        |    CAST(COALESCE(n_events, 0) AS BIGINT) n_events,
        |    CAST(COALESCE(value_q, 0) AS BIGINT) value_q
        |  FROM grid g LEFT JOIN daily USING (event_type, d)),
        |r AS (SELECT *,
        |    CAST(sum(n_events) OVER w AS BIGINT) roll7_n,
        |    CAST(sum(value_q) OVER w AS BIGINT) roll7_sum
        |  FROM g0 WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d AS "day", n_events, value_q, roll7_n, roll7_sum,
        |  CAST(CASE WHEN roll7_n > 0 THEN roll7_sum // roll7_n ELSE 0 END AS BIGINT)
        |    AS roll7_avg_q
        |FROM r ORDER BY 1, 2""".stripMargin,

    "q96_containment" ->
      s"""${PipelineQueries.trigramCtes},
         |cg AS (SELECT g.doc_id, s FROM g JOIN documents USING (doc_id)
         |       WHERE source <> 'src0'),
         |bg AS (SELECT g.doc_id bench_doc, s FROM g JOIN documents USING (doc_id)
         |       WHERE source = 'src0'),
         |hits AS (SELECT cg.doc_id, bench_doc, count(*) n_common
         |         FROM cg JOIN bg USING (s) GROUP BY 1, 2),
         |sz AS (SELECT doc_id, count(*) n_grams FROM cg GROUP BY 1),
         |best AS (SELECT doc_id, bench_doc, n_common,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_common DESC, bench_doc) rn
         |  FROM hits)
         |SELECT sz.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(COALESCE(bench_doc, -1) AS BIGINT) AS best_bench,
         |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
         |  CAST((1000000 * COALESCE(n_common, 0)) // n_grams AS BIGINT) AS containment_ppm
         |FROM sz LEFT JOIN (SELECT * FROM best WHERE rn = 1) USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q182_robust_scaling" ->
      """WITH rk AS (SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) n
        |  FROM documents),
        |st AS (SELECT source,
        |    CAST(max(CASE WHEN rn * 4 >= n AND (rn - 1) * 4 < n
        |      THEN n_chars END) AS BIGINT) p25,
        |    CAST(max(CASE WHEN rn * 2 >= n AND (rn - 1) * 2 < n
        |      THEN n_chars END) AS BIGINT) med,
        |    CAST(max(CASE WHEN rn * 4 >= n * 3 AND (rn - 1) * 4 < n * 3
        |      THEN n_chars END) AS BIGINT) p75
        |  FROM rk GROUP BY source)
        |SELECT doc_id, d.source, n_chars, med,
        |  CAST(p75 - p25 AS BIGINT) AS iqr,
        |  CAST(CASE WHEN p75 - p25 > 0
        |    THEN CAST(floor(CAST(1000 * (n_chars - med) AS DOUBLE)
        |      / CAST(p75 - p25 AS DOUBLE)) AS BIGINT)
        |    ELSE 0 END AS BIGINT) AS robust_q
        |FROM documents d JOIN st USING (source)
        |ORDER BY doc_id""".stripMargin,

    "q181_nb_pr_sweep" ->
      s"""$nbScoreCtes,
         |thr AS (SELECT unnest([-2000, -1000, 0, 1000, 2000]) threshold),
         |sw AS (SELECT CAST(threshold AS BIGINT) threshold,
         |    CAST(sum(CASE WHEN score_q > threshold THEN 1 ELSE 0 END) AS BIGINT)
         |      n_pred_pos,
         |    CAST(sum(CASE WHEN score_q > threshold AND clean THEN 1 ELSE 0 END)
         |      AS BIGINT) n_tp,
         |    CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) n_pos
         |  FROM ds CROSS JOIN thr GROUP BY 1)
         |SELECT threshold, n_pred_pos, n_tp,
         |  CAST(CASE WHEN n_pred_pos > 0 THEN (1000000 * n_tp) // n_pred_pos
         |    ELSE 0 END AS BIGINT) precision_ppm,
         |  CAST((1000000 * n_tp) // n_pos AS BIGINT) recall_ppm
         |FROM sw ORDER BY threshold""".stripMargin,

    "q180_nb_auc" ->
      s"""$nbScoreCtes,
         |g AS (SELECT score_q,
         |        CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) p,
         |        CAST(sum(CASE WHEN NOT clean THEN 1 ELSE 0 END) AS BIGINT) q
         |      FROM ds GROUP BY 1),
         |c AS (SELECT score_q, p, q,
         |    CAST(COALESCE(sum(q) OVER (ORDER BY score_q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      q_below
         |  FROM g),
         |t AS (SELECT CAST(sum(p * (2 * q_below + q)) AS BIGINT) u_x2,
         |        CAST(sum(p) AS BIGINT) n_pos,
         |        CAST(sum(q) AS BIGINT) n_neg FROM c)
         |SELECT n_pos, n_neg, u_x2,
         |  CAST((1000000 * u_x2) // (2 * n_pos * n_neg) AS BIGINT) auc_ppm
         |FROM t""".stripMargin,

    "q178_ks_drift" ->
      """WITH a AS (SELECT n_chars v FROM documents WHERE source = 'src0'),
        |b AS (SELECT n_chars v FROM documents WHERE source <> 'src0'),
        |na AS (SELECT CAST(count(*) AS BIGINT) n_a FROM a),
        |nb AS (SELECT CAST(count(*) AS BIGINT) n_b FROM b),
        |u AS (SELECT v, 1 ia, 0 ib FROM a UNION ALL SELECT v, 0, 1 FROM b),
        |cum AS (SELECT v,
        |    CAST(sum(ia) OVER (ORDER BY v) AS BIGINT) ca,
        |    CAST(sum(ib) OVER (ORDER BY v) AS BIGINT) cb
        |  FROM u),
        |d AS (SELECT CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) d_num
        |      FROM cum CROSS JOIN na CROSS JOIN nb)
        |SELECT n_a, n_b, d_num,
        |  CAST((1000000 * d_num) // (n_a * n_b) AS BIGINT) ks_d_ppm
        |FROM d CROSS JOIN na CROSS JOIN nb""".stripMargin,

    "q179_top_paths" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
        |              event_type FROM events),
        |tr AS (
        |  SELECT event_type step1,
        |    lead(event_type, 1) OVER w step2,
        |    lead(event_type, 2) OVER w step3
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  QUALIFY step3 IS NOT NULL)
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) n
        |FROM tr GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,

    "q176_benford_audit" ->
      """WITH e AS (SELECT * FROM (VALUES
        |    ('1', 301029), ('2', 176091), ('3', 124938), ('4', 96910),
        |    ('5', 79181), ('6', 66946), ('7', 57991), ('8', 51152),
        |    ('9', 45757)) AS t(digit, exp_ppm)),
        |obs AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |          AS VARCHAR), 1, 1) digit,
        |          CAST(count(*) AS BIGINT) n
        |        FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) total FROM obs)
        |SELECT e.digit, CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST((1000000 * COALESCE(n, 0)) // total AS BIGINT) AS obs_ppm,
        |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
        |  CAST(abs((1000000 * COALESCE(n, 0)) // total - exp_ppm) AS BIGINT)
        |    AS dev_ppm
        |FROM e LEFT JOIN obs USING (digit) CROSS JOIN tot
        |ORDER BY e.digit""".stripMargin,

    "q177_zipf_fit" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT unnest(t) token FROM tok),
         |tc AS (SELECT token, CAST(count(*) AS BIGINT) freq FROM p GROUP BY 1),
         |hd AS (SELECT token, freq,
         |    CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) rank
         |  FROM tc QUALIFY rank <= 1000),
         |q AS (SELECT
         |    CAST(floor(1000 * ln(CAST(rank AS DOUBLE))) AS BIGINT) x,
         |    CAST(floor(1000 * ln(CAST(freq AS DOUBLE))) AS BIGINT) y
         |  FROM hd),
         |m AS (SELECT CAST(count(*) AS BIGINT) n,
         |        CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
         |        CAST(sum(x * y) AS BIGINT) sxy,
         |        CAST(sum(x * x) AS BIGINT) sxx,
         |        CAST(sum(y * y) AS BIGINT) syy
         |      FROM q)
         |SELECT n,
         |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         |    AS slope,
         |  (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) AS intercept,
         |  CAST(n * sxy - sx * sy AS DOUBLE) / sqrt(
         |    CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         |    AS corr
         |FROM m""".stripMargin,

    "q175_interarrival_quantiles" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
        |              event_type FROM events),
        |g AS (SELECT event_type,
        |    CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT) us
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  QUALIFY lead(ts) OVER w IS NOT NULL),
        |rk AS (SELECT event_type, us,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY us) AS BIGINT) rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n
        |  FROM g)
        |SELECT event_type, CAST(max(n) AS BIGINT) n_gaps,
        |  CAST(max(CASE WHEN rn * 2 >= n AND (rn - 1) * 2 < n THEN us END)
        |    AS BIGINT) p50_us,
        |  CAST(max(CASE WHEN rn * 10 >= n * 9 AND (rn - 1) * 10 < n * 9 THEN us END)
        |    AS BIGINT) p90_us
        |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q173_funnel_latency" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type
        |            FROM events),
        |v AS (SELECT user_id, min(ts) t0 FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT v.user_id, min(ts) t1 FROM ev JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts >= t0 GROUP BY 1),
        |p AS (SELECT c.user_id, min(ts) t2 FROM ev JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts >= t1 GROUP BY 1),
        |lat AS (
        |  SELECT 'view->click' pair,
        |    CAST(epoch_us(t1) - epoch_us(t0) AS BIGINT) us
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL
        |  SELECT 'click->purchase',
        |    CAST(epoch_us(t2) - epoch_us(t1) AS BIGINT)
        |  FROM p JOIN c USING (user_id)),
        |rk AS (SELECT pair, us,
        |    CAST(row_number() OVER (PARTITION BY pair ORDER BY us) AS BIGINT) rn,
        |    CAST(count(*) OVER (PARTITION BY pair) AS BIGINT) n
        |  FROM lat)
        |SELECT pair, CAST(max(n) AS BIGINT) n_users,
        |  CAST(max(CASE WHEN rn * 2 >= n AND (rn - 1) * 2 < n THEN us END)
        |    AS BIGINT) p50_us,
        |  CAST(max(CASE WHEN rn * 10 >= n * 9 AND (rn - 1) * 10 < n * 9 THEN us END)
        |    AS BIGINT) p90_us
        |FROM rk GROUP BY pair ORDER BY pair""".stripMargin,

    "q171_seasonal_naive_eval" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) vq
        |  FROM events GROUP BY 1, 2),
        |lagd AS (
        |  SELECT event_type, day, vq,
        |    lag(vq, 7) OVER (PARTITION BY event_type ORDER BY day) f_seasonal,
        |    lag(vq, 1) OVER (PARTITION BY event_type ORDER BY day) f_naive
        |  FROM daily),
        |sc AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |         CAST(sum(abs(vq - f_seasonal)) AS BIGINT) ae_seasonal,
        |         CAST(sum(abs(vq - f_naive)) AS BIGINT) ae_naive
        |       FROM lagd WHERE f_seasonal IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_days, ae_seasonal, ae_naive,
        |  CAST(CASE WHEN ae_naive > 0 THEN (1000000 * ae_seasonal) // ae_naive
        |    ELSE -1 END AS BIGINT) mase_ppm
        |FROM sc ORDER BY event_type""".stripMargin,

    // q220 oracle: same value-based midpoint split and binary-fraction
    // exact interpolated quantiles (quantile_cont ≡ Spark percentile).
    "q220_qq_drift" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) us,
        |    CAST(floor(value * 1000) AS BIGINT) x
        |  FROM events),
        |m AS (SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) mid FROM ev),
        |per AS (SELECT event_type,
        |    CASE WHEN us < mid THEN 'a' ELSE 'b' END period,
        |    CAST(count(*) AS BIGINT) n,
        |    quantile_cont(x, 0.25) p25, quantile_cont(x, 0.5) p50,
        |    quantile_cont(x, 0.75) p75, quantile_cont(x, 0.875) p875
        |  FROM ev CROSS JOIN m GROUP BY 1, 2),
        |a AS (SELECT event_type, n n_a, p25 p25_a, p50 p50_a, p75 p75_a,
        |        p875 p875_a FROM per WHERE period = 'a'),
        |b AS (SELECT event_type, n n_b, p25 p25_b, p50 p50_b, p75 p75_b,
        |        p875 p875_b FROM per WHERE period = 'b')
        |SELECT event_type, n_a, n_b,
        |  p25_a, p25_b, p25_b - p25_a d25,
        |  p50_a, p50_b, p50_b - p50_a d50,
        |  p75_a, p75_b, p75_b - p75_a d75,
        |  p875_a, p875_b, p875_b - p875_a d875
        |FROM a JOIN b USING (event_type) ORDER BY event_type""".stripMargin,

    // q215 oracle: same unit quantization, per-type anchors, epoch-us
    // lag join and moment identities.
    "q215_leadlag" ->
      """WITH daily AS (
        |  SELECT event_type typ, date_trunc('day', CAST(ts AS TIMESTAMP)) dy,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // 1000 AS BIGINT) x
        |  FROM events GROUP BY 1, 2),
        |anch AS (SELECT typ, CAST(sum(x) // count(*) AS BIGINT) ax
        |         FROM daily GROUP BY 1),
        |dv AS (SELECT d.typ, epoch_us(dy) us, x - ax dx
        |       FROM daily d JOIN anch USING (typ)),
        |lags AS (SELECT unnest(range(0, 4)) lag),
        |st AS (SELECT a.typ type_x, b.typ type_y, lag,
        |         CAST(count(*) AS BIGINT) n_days,
        |         CAST(sum(a.dx) AS BIGINT) sa, CAST(sum(b.dx) AS BIGINT) sb,
        |         CAST(sum(a.dx * b.dx) AS BIGINT) sab,
        |         CAST(sum(a.dx * a.dx) AS BIGINT) saa,
        |         CAST(sum(b.dx * b.dx) AS BIGINT) sbb
        |       FROM dv a CROSS JOIN lags
        |       JOIN dv b ON a.typ < b.typ
        |         AND b.us = a.us + lag * 86400000000
        |       GROUP BY 1, 2, 3),
        |f AS (SELECT type_x, type_y, lag, n_days,
        |        n_days * sab - sa * sb cov_n,
        |        n_days * saa - sa * sa varx_n,
        |        n_days * sbb - sb * sb vary_n
        |      FROM st)
        |SELECT type_x, type_y, CAST(lag AS BIGINT) lag, n_days,
        |  CAST(cov_n AS BIGINT) cov_n, CAST(varx_n AS BIGINT) varx_n,
        |  CAST(vary_n AS BIGINT) vary_n,
        |  CASE WHEN varx_n > 0 THEN CAST((1000 * cov_n) // varx_n AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END slope_milli
        |FROM f ORDER BY type_x, type_y, lag""".stripMargin,

    // q227 oracle: identical anchored daily grain, identical pairwise
    // floor(1000·dy/dx) quantization, lower median by row position.
    "q227_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
        |      // 86400000000 AS BIGINT) didx,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) vq
        |  FROM events GROUP BY 1, 2),
        |anch AS (SELECT event_type, min(didx) d0,
        |           CAST(sum(vq) // count(*) AS BIGINT) v0,
        |           CAST(count(*) AS BIGINT) n_days
        |         FROM daily GROUP BY 1),
        |dv AS (SELECT d.event_type, didx - d0 x, vq - v0 y
        |       FROM daily d JOIN anch USING (event_type)),
        |ols AS (SELECT event_type,
        |          CAST((1000 * (count(*) * sum(x * y) - sum(x) * sum(y)))
        |            // (count(*) * sum(x * x) - sum(x) * sum(x))
        |            AS BIGINT) ols_slope_milli
        |        FROM dv GROUP BY 1),
        |sl AS (SELECT a.event_type,
        |         CAST(floor((1000.0 * CAST(b.y - a.y AS DOUBLE)) /
        |           CAST(b.x - a.x AS DOUBLE)) AS BIGINT) sl
        |       FROM dv a JOIN dv b ON a.event_type = b.event_type
        |         AND a.x < b.x),
        |r AS (SELECT event_type, sl,
        |        row_number() OVER (PARTITION BY event_type ORDER BY sl) rn,
        |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n_pairs
        |      FROM sl),
        |med AS (SELECT event_type, n_pairs, sl ts_slope_milli
        |        FROM r WHERE rn = (n_pairs + 1) // 2)
        |SELECT m.event_type, n_days, n_pairs, ts_slope_milli, ols_slope_milli
        |FROM med m JOIN anch USING (event_type) JOIN ols USING (event_type)
        |ORDER BY m.event_type""".stripMargin,

    // q232 oracle: the same grouping-sets lattice; level decoded from
    // per-column GROUPING() bits, k/suppression arithmetic all BIGINT
    // (operands non-negative, // ≡ DIV).
    "q232_k_anonymity" ->
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) nat,
        |    c_mktsegment seg, CAST(floor(c_acctbal / 1000) AS BIGINT) band
        |  FROM customer),
        |cls AS (SELECT CAST(count(*) AS BIGINT) cls_n,
        |          GROUPING(nat) * 4 + GROUPING(seg) * 2 + GROUPING(band) gid
        |        FROM base
        |        GROUP BY GROUPING SETS ((nat, seg, band), (nat, seg), (seg))),
        |lv AS (SELECT CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END lev,
        |         cls_n FROM cls)
        |SELECT CAST(lev AS INT) AS "level", CAST(count(*) AS BIGINT) n_classes,
        |  CAST(min(cls_n) AS BIGINT) k_anonymity,
        |  CAST(sum(CASE WHEN cls_n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    classes_below_k,
        |  CAST(sum(CASE WHEN cls_n < 10 THEN cls_n ELSE 0 END) AS BIGINT)
        |    rows_below_k,
        |  CAST((1000000 * sum(CASE WHEN cls_n < 10 THEN cls_n ELSE 0 END))
        |    // sum(cls_n) AS BIGINT) suppression_ppm
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin,

    // q233 oracle: the textbook NOT EXISTS dominance query — a
    // completely independent (quadratic) evaluation of the same
    // frontier; fine at oracle scale, and exactly the formulation the
    // distributed pass must reproduce bit-for-bit.
    "q233_skyline_customers" ->
      """WITH agg AS (SELECT CAST(o_custkey AS BIGINT) cust,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      spent_cents,
        |    CAST(count(*) AS BIGINT) n_orders,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(max(o_orderdate) AS DATE)) AS BIGINT) last_day
        |  FROM orders GROUP BY 1)
        |SELECT a.cust, a.spent_cents, a.n_orders, a.last_day
        |FROM agg a
        |WHERE NOT EXISTS (SELECT 1 FROM agg b
        |  WHERE b.spent_cents >= a.spent_cents
        |    AND b.n_orders >= a.n_orders AND b.last_day >= a.last_day
        |    AND (b.spent_cents > a.spent_cents OR b.n_orders > a.n_orders
        |         OR b.last_day > a.last_day))
        |ORDER BY a.spent_cents DESC, a.cust""".stripMargin,

    // q234 oracle: the same two-level aggregate; l histogram with the
    // worst modal share, // ≡ DIV on non-negative operands.
    "q234_l_diversity" ->
      """WITH cell AS (SELECT CAST(c_nationkey AS BIGINT) nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) band, c_mktsegment seg,
        |    CAST(count(*) AS BIGINT) sc
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (SELECT nat, band, CAST(sum(sc) AS BIGINT) cls_n,
        |    CAST(count(*) AS BIGINT) l, CAST(max(sc) AS BIGINT) top_cnt
        |  FROM cell GROUP BY 1, 2)
        |SELECT l, CAST(count(*) AS BIGINT) n_classes,
        |  CAST(sum(cls_n) AS BIGINT) n_rows,
        |  CAST(max((1000000 * top_cnt) // cls_n) AS BIGINT)
        |    worst_top_share_ppm
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,

    // q235 oracle: the identical cross-multiplied EMD — dense grid via
    // CROSS JOIN with the band cumulative table, per-class cumsum,
    // integer numerator, same (B−1)·n_c·N denominator.
    "q235_t_closeness" ->
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) nat,
        |    c_mktsegment seg, CAST(floor(c_acctbal / 1000) AS BIGINT) band
        |  FROM customer),
        |classes AS (SELECT nat, seg, CAST(count(*) AS BIGINT) cls_n
        |  FROM base GROUP BY 1, 2),
        |cell AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) cc
        |  FROM base GROUP BY 1, 2, 3),
        |gcum AS (SELECT band, CAST(sum(count(*))
        |      OVER (ORDER BY band) AS BIGINT) gcum
        |  FROM base GROUP BY band),
        |consts AS (SELECT CAST(max(gcum) AS BIGINT) n_tot,
        |    CAST(count(*) AS BIGINT) n_bands FROM gcum),
        |cum AS (SELECT c.nat, c.seg, c.cls_n, g.band, g.gcum,
        |    CAST(sum(COALESCE(l.cc, 0))
        |      OVER (PARTITION BY c.nat, c.seg ORDER BY g.band) AS BIGINT) ccum
        |  FROM classes c CROSS JOIN gcum g
        |  LEFT JOIN cell l ON l.nat = c.nat AND l.seg = c.seg
        |    AND l.band = g.band),
        |t AS (SELECT nat, seg, cls_n,
        |    CAST(sum(abs(ccum * (SELECT n_tot FROM consts)
        |      - gcum * cls_n)) AS BIGINT) emd_num
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT nat, seg, cls_n,
        |  CAST((1000000 * emd_num)
        |    // (greatest((SELECT n_bands FROM consts) - 1, 1) * cls_n
        |       * (SELECT n_tot FROM consts)) AS BIGINT) t_ppm
        |FROM t ORDER BY t_ppm DESC, nat, seg LIMIT 20""".stripMargin,

    // q236 oracle: the same TA simulation in CTEs — same D=500 cap,
    // same strict-> stop rule — but the top-k itself comes from a FULL
    // scan, so the compare independently verifies TA's guarantee.
    "q236_ta_topk_audit" ->
      """WITH scored AS (SELECT CAST(o_custkey AS BIGINT) cust,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) s1,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(max(o_orderdate) AS DATE)) AS BIGINT) * 10000 s2
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT cust, s1, s2, s1 + s2 c FROM scored),
        |t1 AS (SELECT cust, s1, c, row_number()
        |    OVER (ORDER BY s1 DESC, cust) r1 FROM sc QUALIFY r1 <= 500),
        |t2 AS (SELECT cust, s2, c, row_number()
        |    OVER (ORDER BY s2 DESC, cust) r2 FROM sc QUALIFY r2 <= 500),
        |cands AS (SELECT COALESCE(a.cust, b.cust) cust,
        |    COALESCE(a.c, b.c) c,
        |    least(COALESCE(a.r1, 501), COALESCE(b.r2, 501)) m
        |  FROM t1 a FULL JOIN t2 b ON a.cust = b.cust),
        |depths AS (SELECT a.r1 dep, a.s1 + b.s2 thr
        |  FROM t1 a JOIN t2 b ON a.r1 = b.r2),
        |kth AS (SELECT dep, thr, c kth_c FROM (
        |    SELECT dd.dep, dd.thr, ca.c, ca.cust, row_number()
        |      OVER (PARTITION BY dd.dep ORDER BY ca.c DESC, ca.cust) rk
        |    FROM depths dd JOIN cands ca ON ca.m <= dd.dep) WHERE rk = 10),
        |stop AS (SELECT CAST(min(dep) AS BIGINT) stop_depth
        |  FROM kth WHERE kth_c > thr),
        |seen AS (SELECT CAST(count(*) AS BIGINT) seen_n
        |  FROM cands, stop WHERE m <= stop_depth),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) corpus_n FROM sc),
        |gk AS (SELECT cust, c, CAST(row_number()
        |    OVER (ORDER BY c DESC, cust) AS BIGINT) rnk
        |  FROM sc QUALIFY rnk <= 10),
        |tam AS (SELECT CAST(count(*) AS BIGINT) ta_topk_in_seen
        |  FROM gk JOIN cands USING (cust), stop WHERE m <= stop_depth)
        |SELECT gk.rnk, gk.cust, gk.c AS combined, stop.stop_depth,
        |  seen.seen_n, corpus.corpus_n,
        |  CAST((1000000 * seen.seen_n) // corpus.corpus_n AS BIGINT)
        |    scanned_ppm,
        |  tam.ta_topk_in_seen
        |FROM gk, stop, seen, corpus, tam ORDER BY gk.rnk""".stripMargin,

    // q237 oracle: identical md5-nibble membership, ×16 HT scale-up,
    // one conditional aggregate; // ≡ DIV (numerators non-negative).
    "q237_aqp_error" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) cents,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0' in_sample
        |  FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_exact,
        |    CAST(sum(cents) AS BIGINT) sum_exact,
        |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
        |      * 16 n_est,
        |    CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT)
        |      * 16 sum_est
        |  FROM ev GROUP BY 1)
        |SELECT event_type, n_exact, n_est,
        |  CAST((1000000 * abs(n_est - n_exact)) // n_exact AS BIGINT)
        |    err_cnt_ppm,
        |  sum_exact, sum_est,
        |  CAST((1000000 * abs(sum_est - sum_exact))
        |    // greatest(abs(sum_exact), 1) AS BIGINT) err_sum_ppm
        |FROM g ORDER BY 1""".stripMargin,

    // q238 oracle: the same greedy unrolled as three SQL stages over
    // the 8-row lattice — benefit per candidate via the subset join
    // (w & v) = w, argmax with the (benefit DESC, mask) tiebreak,
    // per-cuboid min-ancestor cost recomputed after each pick.
    "q238_cube_greedy" ->
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) nat,
        |    c_mktsegment seg, year(o_orderdate) yr
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT GROUPING(nat)*4 + GROUPING(seg)*2 + GROUPING(yr) gid
        |  FROM base GROUP BY GROUPING SETS ((nat, seg, yr), (nat, seg),
        |    (nat, yr), (seg, yr), (nat), (seg), (yr), ())),
        |sz AS (SELECT CAST(7 - gid AS BIGINT) mask,
        |    CAST(count(*) AS BIGINT) v_size FROM g GROUP BY 1),
        |b1 AS (SELECT v.mask, v.v_size, CAST(sum(greatest(0,
        |      (SELECT v_size FROM sz WHERE mask = 7) - v.v_size))
        |      AS BIGINT) benefit
        |  FROM sz v JOIN sz w ON (w.mask & v.mask) = w.mask
        |  WHERE v.mask <> 7 GROUP BY 1, 2),
        |p1 AS (SELECT mask, v_size, benefit FROM b1
        |  ORDER BY benefit DESC, mask LIMIT 1),
        |c1 AS (SELECT w.mask wm, CAST(min(v.v_size) AS BIGINT) vcost
        |  FROM sz w JOIN sz v ON (w.mask & v.mask) = w.mask
        |  WHERE v.mask = 7 OR v.mask = (SELECT mask FROM p1) GROUP BY 1),
        |t1 AS (SELECT CAST(sum(vcost) AS BIGINT) total_cost FROM c1),
        |b2 AS (SELECT v.mask, v.v_size,
        |    CAST(sum(greatest(0, c.vcost - v.v_size)) AS BIGINT) benefit
        |  FROM sz v JOIN c1 c ON (c.wm & v.mask) = c.wm
        |  WHERE v.mask <> 7 AND v.mask <> (SELECT mask FROM p1)
        |  GROUP BY 1, 2),
        |p2 AS (SELECT mask, v_size, benefit FROM b2
        |  ORDER BY benefit DESC, mask LIMIT 1),
        |c2 AS (SELECT w.mask wm, CAST(min(v.v_size) AS BIGINT) vcost
        |  FROM sz w JOIN sz v ON (w.mask & v.mask) = w.mask
        |  WHERE v.mask IN (7, (SELECT mask FROM p1), (SELECT mask FROM p2))
        |  GROUP BY 1),
        |t2 AS (SELECT CAST(sum(vcost) AS BIGINT) total_cost FROM c2),
        |b3 AS (SELECT v.mask, v.v_size,
        |    CAST(sum(greatest(0, c.vcost - v.v_size)) AS BIGINT) benefit
        |  FROM sz v JOIN c2 c ON (c.wm & v.mask) = c.wm
        |  WHERE v.mask NOT IN (7, (SELECT mask FROM p1),
        |    (SELECT mask FROM p2)) GROUP BY 1, 2),
        |p3 AS (SELECT mask, v_size, benefit FROM b3
        |  ORDER BY benefit DESC, mask LIMIT 1),
        |c3 AS (SELECT w.mask wm, CAST(min(v.v_size) AS BIGINT) vcost
        |  FROM sz w JOIN sz v ON (w.mask & v.mask) = w.mask
        |  WHERE v.mask IN (7, (SELECT mask FROM p1), (SELECT mask FROM p2),
        |    (SELECT mask FROM p3)) GROUP BY 1),
        |t3 AS (SELECT CAST(sum(vcost) AS BIGINT) total_cost FROM c3),
        |steps AS (
        |  SELECT 1 step, mask, v_size, benefit,
        |    (SELECT total_cost FROM t1) total_cost FROM p1
        |  UNION ALL SELECT 2, mask, v_size, benefit,
        |    (SELECT total_cost FROM t2) FROM p2
        |  UNION ALL SELECT 3, mask, v_size, benefit,
        |    (SELECT total_cost FROM t3) FROM p3)
        |SELECT CAST(step AS INT) step,
        |  CASE mask WHEN 0 THEN '()' WHEN 1 THEN 'yr' WHEN 2 THEN 'seg'
        |    WHEN 3 THEN 'seg,yr' WHEN 4 THEN 'nat' WHEN 5 THEN 'nat,yr'
        |    WHEN 6 THEN 'nat,seg' ELSE 'nat,seg,yr' END view_name,
        |  mask, v_size, benefit, total_cost
        |FROM steps ORDER BY step""".stripMargin,

    // q239 oracle: g3 per candidate as the same two-level aggregate,
    // five branches UNION ALL'd; // ≡ DIV on non-negative operands.
    "q239_fd_discovery" ->
      """SELECT dep, n_rows, violations,
        |  CAST((1000000 * violations) // n_rows AS BIGINT) g3_ppm,
        |  CASE WHEN violations = 0 THEN 1 ELSE 0 END holds
        |FROM (
        |  SELECT 'orders: o_custkey -> o_orderpriority' dep,
        |    CAST(sum(tot) AS BIGINT) n_rows,
        |    CAST(sum(tot) - sum(mx) AS BIGINT) violations
        |  FROM (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT o_custkey a, o_orderpriority b,
        |      CAST(count(*) AS BIGINT) c FROM orders GROUP BY 1, 2)
        |    GROUP BY a)
        |  UNION ALL
        |  SELECT 'orders: o_orderkey -> o_orderstatus',
        |    CAST(sum(tot) AS BIGINT), CAST(sum(tot) - sum(mx) AS BIGINT)
        |  FROM (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT o_orderkey a, o_orderstatus b,
        |      CAST(count(*) AS BIGINT) c FROM orders GROUP BY 1, 2)
        |    GROUP BY a)
        |  UNION ALL
        |  SELECT 'customer: c_nationkey -> c_mktsegment',
        |    CAST(sum(tot) AS BIGINT), CAST(sum(tot) - sum(mx) AS BIGINT)
        |  FROM (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT c_nationkey a, c_mktsegment b,
        |      CAST(count(*) AS BIGINT) c FROM customer GROUP BY 1, 2)
        |    GROUP BY a)
        |  UNION ALL
        |  SELECT 'events: user_id -> event_type',
        |    CAST(sum(tot) AS BIGINT), CAST(sum(tot) - sum(mx) AS BIGINT)
        |  FROM (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT user_id a, event_type b,
        |      CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2)
        |    GROUP BY a)
        |  UNION ALL
        |  SELECT 'documents: source -> lang',
        |    CAST(sum(tot) AS BIGINT), CAST(sum(tot) - sum(mx) AS BIGINT)
        |  FROM (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT source a, lang b,
        |      CAST(count(*) AS BIGINT) c FROM documents GROUP BY 1, 2)
        |    GROUP BY a)
        |) ORDER BY dep""".stripMargin,

    // q240 oracle: the same DP unrolled — segment errors from pair-
    // joined cumulative sums, three ranked stages with the (err, k)
    // tiebreak, backtrack joins, bucket rows reassembled from seg.
    "q240_voptimal_histogram" ->
      """WITH bands AS (SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) band,
        |    CAST(count(*) AS BIGINT) f FROM customer GROUP BY 1),
        |idx AS (SELECT band, f,
        |    CAST(row_number() OVER (ORDER BY band) AS BIGINT) i FROM bands),
        |cum AS (SELECT i, band, f,
        |    CAST(sum(f) OVER (ORDER BY i) AS BIGINT) cf,
        |    CAST(sum(f * f) OVER (ORDER BY i) AS BIGINT) cf2 FROM idx),
        |nv AS (SELECT CAST(max(i) AS BIGINT) v FROM cum),
        |sege AS (SELECT lo.i lo, hi.i hi,
        |    hi.cf - lo.cf + lo.f sf,
        |    CAST((720720 // (hi.i - lo.i + 1)) *
        |      ((hi.i - lo.i + 1) * (hi.cf2 - lo.cf2 + lo.f * lo.f)
        |       - (hi.cf - lo.cf + lo.f) * (hi.cf - lo.cf + lo.f))
        |      AS BIGINT) e
        |  FROM cum lo JOIN cum hi ON lo.i <= hi.i),
        |d1 AS (SELECT hi j, e e1 FROM sege WHERE lo = 1),
        |d2 AS (SELECT j, k, e2 FROM (
        |    SELECT s.hi j, d1.j k, d1.e1 + s.e e2, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d1.e1 + s.e, d1.j) rn
        |    FROM d1 JOIN sege s ON s.lo = d1.j + 1) WHERE rn = 1),
        |d3 AS (SELECT j, k, e3 FROM (
        |    SELECT s.hi j, d2.j k, d2.e2 + s.e e3, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d2.e2 + s.e, d2.j) rn
        |    FROM d2 JOIN sege s ON s.lo = d2.j + 1) WHERE rn = 1),
        |d4 AS (SELECT k, e4 FROM (
        |    SELECT d3.j k, d3.e3 + s.e e4, row_number()
        |      OVER (ORDER BY d3.e3 + s.e, d3.j) rn
        |    FROM d3 JOIN sege s ON s.lo = d3.j + 1
        |      AND s.hi = (SELECT v FROM nv)) WHERE rn = 1),
        |bt AS (SELECT d2.k k1, d3.k k2, d4.k k3, d4.e4 total
        |  FROM d4 JOIN d3 ON d3.j = d4.k JOIN d2 ON d2.j = d3.k),
        |cuts AS (SELECT 1 bucket, CAST(1 AS BIGINT) lo, k1 hi, total FROM bt
        |  UNION ALL SELECT 2, k1 + 1, k2, total FROM bt
        |  UNION ALL SELECT 3, k2 + 1, k3, total FROM bt
        |  UNION ALL SELECT 4, k3 + 1, (SELECT v FROM nv), total FROM bt)
        |SELECT CAST(c.bucket AS INT) bucket, il.band lo_band,
        |  ih.band hi_band, s.sf n_rows, s.e sse_scaled,
        |  c.total total_sse_scaled
        |FROM cuts c JOIN sege s ON s.lo = c.lo AND s.hi = c.hi
        |JOIN cum il ON il.i = c.lo JOIN cum ih ON ih.i = c.hi
        |ORDER BY 1""".stripMargin,

    // q241 oracle: all three bucketings restated in SQL — equi-width
    // via (i·V)//B, equi-depth via the clamped cross-multiplied rule,
    // V-optimal via the q240 DP stack — then the same uniform-spread
    // prefix estimates against exact cumulative counts.
    "q241_synopsis_error" ->
      """WITH bands AS (SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) band,
        |    CAST(count(*) AS BIGINT) f FROM customer GROUP BY 1),
        |idx AS (SELECT band, f,
        |    CAST(row_number() OVER (ORDER BY band) AS BIGINT) i FROM bands),
        |cum AS (SELECT i, band, f,
        |    CAST(sum(f) OVER (ORDER BY i) AS BIGINT) cf,
        |    CAST(sum(f * f) OVER (ORDER BY i) AS BIGINT) cf2 FROM idx),
        |nv AS (SELECT CAST(max(i) AS BIGINT) v FROM cum),
        |tot AS (SELECT CAST(sum(f) AS BIGINT) n FROM bands),
        |sege AS (SELECT lo.i lo, hi.i hi,
        |    hi.cf - lo.cf + lo.f sf,
        |    CAST((720720 // (hi.i - lo.i + 1)) *
        |      ((hi.i - lo.i + 1) * (hi.cf2 - lo.cf2 + lo.f * lo.f)
        |       - (hi.cf - lo.cf + lo.f) * (hi.cf - lo.cf + lo.f))
        |      AS BIGINT) e
        |  FROM cum lo JOIN cum hi ON lo.i <= hi.i),
        |d1 AS (SELECT hi j, e e1 FROM sege WHERE lo = 1),
        |d2 AS (SELECT j, k, e2 FROM (
        |    SELECT s.hi j, d1.j k, d1.e1 + s.e e2, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d1.e1 + s.e, d1.j) rn
        |    FROM d1 JOIN sege s ON s.lo = d1.j + 1) WHERE rn = 1),
        |d3 AS (SELECT j, k, e3 FROM (
        |    SELECT s.hi j, d2.j k, d2.e2 + s.e e3, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d2.e2 + s.e, d2.j) rn
        |    FROM d2 JOIN sege s ON s.lo = d2.j + 1) WHERE rn = 1),
        |d4 AS (SELECT k, e4 FROM (
        |    SELECT d3.j k, d3.e3 + s.e e4, row_number()
        |      OVER (ORDER BY d3.e3 + s.e, d3.j) rn
        |    FROM d3 JOIN sege s ON s.lo = d3.j + 1
        |      AND s.hi = (SELECT v FROM nv)) WHERE rn = 1),
        |bt AS (SELECT d2.k k1, d3.k k2, d4.k k3
        |  FROM d4 JOIN d3 ON d3.j = d4.k JOIN d2 ON d2.j = d3.k),
        |ed1 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 1 * n), 1),
        |    (SELECT v FROM nv) - 3) h),
        |ed2 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 2 * n),
        |    (SELECT h FROM ed1) + 1), (SELECT v FROM nv) - 2) h),
        |ed3 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 3 * n),
        |    (SELECT h FROM ed2) + 1), (SELECT v FROM nv) - 1) h),
        |allb AS (
        |  SELECT 'equi_width' hist,
        |    ((t.i - 1) * (SELECT v FROM nv)) // 4 + 1 lo,
        |    (t.i * (SELECT v FROM nv)) // 4 hi
        |  FROM (VALUES (1), (2), (3), (4)) t(i)
        |  UNION ALL
        |  SELECT 'equi_depth', CAST(1 AS BIGINT), (SELECT h FROM ed1)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed1) + 1,
        |    (SELECT h FROM ed2)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed2) + 1,
        |    (SELECT h FROM ed3)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed3) + 1,
        |    (SELECT v FROM nv)
        |  UNION ALL
        |  SELECT 'v_optimal', CAST(1 AS BIGINT), (SELECT k1 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k1 FROM bt) + 1,
        |    (SELECT k2 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k2 FROM bt) + 1,
        |    (SELECT k3 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k3 FROM bt) + 1,
        |    (SELECT v FROM nv)),
        |est AS (SELECT b.hist, c.i t,
        |    CAST(sum(CASE WHEN b.hi <= c.i THEN s.sf
        |      WHEN b.lo > c.i THEN 0
        |      ELSE (s.sf * (c.i - b.lo + 1)) // (b.hi - b.lo + 1) END)
        |      AS BIGINT) est
        |  FROM allb b JOIN sege s ON s.lo = b.lo AND s.hi = b.hi, cum c
        |  GROUP BY 1, 2),
        |err AS (SELECT e.hist, e.t, abs(e.est - c2.cf) ae
        |  FROM est e JOIN cum c2 ON c2.i = e.t)
        |SELECT hist, (SELECT v FROM nv) n_queries,
        |  CAST((1000000 * sum(ae))
        |    // ((SELECT v FROM nv) * (SELECT n FROM tot)) AS BIGINT)
        |    mean_abs_err_ppm,
        |  CAST(max((1000000 * ae) // (SELECT n FROM tot)) AS BIGINT)
        |    max_abs_err_ppm
        |FROM err GROUP BY 1 ORDER BY 1""".stripMargin,

    // q242 oracle: the same ten exact counts as CTEs, the same eight
    // left-deep orders costed explicitly, row_number on (cost, ord).
    "q242_join_order_audit" ->
      """WITH cb AS (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'),
        |rn AS (SELECT CAST(count(*) AS BIGINT) v FROM region
        |  JOIN nation ON r_regionkey = n_regionkey),
        |nc AS (SELECT CAST(count(*) AS BIGINT) v FROM nation
        |  JOIN cb ON n_nationkey = c_nationkey),
        |co AS (SELECT CAST(count(*) AS BIGINT) v FROM cb
        |  JOIN orders ON c_custkey = o_custkey),
        |rnc AS (SELECT CAST(count(*) AS BIGINT) v FROM region
        |  JOIN nation ON r_regionkey = n_regionkey
        |  JOIN cb ON n_nationkey = c_nationkey),
        |nco AS (SELECT CAST(count(*) AS BIGINT) v FROM nation
        |  JOIN cb ON n_nationkey = c_nationkey
        |  JOIN orders ON c_custkey = o_custkey),
        |rnco AS (SELECT CAST(count(*) AS BIGINT) v FROM region
        |  JOIN nation ON r_regionkey = n_regionkey
        |  JOIN cb ON n_nationkey = c_nationkey
        |  JOIN orders ON c_custkey = o_custkey),
        |costed AS (
        |  SELECT 'R,N,C,O' ord, (SELECT v FROM rn) + (SELECT v FROM rnc)
        |    + (SELECT v FROM rnco) cost_rows
        |  UNION ALL SELECT 'N,R,C,O', (SELECT v FROM rn)
        |    + (SELECT v FROM rnc) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'N,C,R,O', (SELECT v FROM nc)
        |    + (SELECT v FROM rnc) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'N,C,O,R', (SELECT v FROM nc)
        |    + (SELECT v FROM nco) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'C,N,R,O', (SELECT v FROM nc)
        |    + (SELECT v FROM rnc) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'C,N,O,R', (SELECT v FROM nc)
        |    + (SELECT v FROM nco) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'C,O,N,R', (SELECT v FROM co)
        |    + (SELECT v FROM nco) + (SELECT v FROM rnco)
        |  UNION ALL SELECT 'O,C,N,R', (SELECT v FROM co)
        |    + (SELECT v FROM nco) + (SELECT v FROM rnco))
        |SELECT ord, cost_rows,
        |  CAST(row_number() OVER (ORDER BY cost_rows, ord) AS BIGINT) rnk
        |FROM costed ORDER BY rnk""".stripMargin,

    // q243 oracle: the textbook quadratic dominance — every name pair
    // scored with levenshtein directly; the engine's three-filter
    // funnel must reproduce it exactly or a dropped pair mismatches.
    "q243_qgram_edit_join" ->
      """WITH nm AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name name_a, b.p_name name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) ed
        |FROM nm a JOIN nm b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin,

    // q244 oracle: the same metric tuples, the same top-50-per-ranker
    // pool, the same majority CASE logic — pairwise over the capped
    // pool with wins/losses reassembled per doc.
    "q244_copeland_fusion" ->
      """WITH m AS (SELECT doc_id, CAST(n_chars AS BIGINT) m1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) m2,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) m3
        |  FROM documents),
        |p1 AS (SELECT * FROM m ORDER BY m1 DESC, doc_id LIMIT 50),
        |p2 AS (SELECT * FROM m ORDER BY m2 DESC, doc_id LIMIT 50),
        |p3 AS (SELECT * FROM m ORDER BY m3 ASC, doc_id LIMIT 50),
        |pool AS (SELECT DISTINCT * FROM (
        |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3)),
        |pairs AS (SELECT a.doc_id da, b.doc_id db,
        |    (CASE WHEN a.m1 > b.m1 OR (a.m1 = b.m1 AND a.doc_id < b.doc_id)
        |      THEN 1 ELSE 0 END
        |     + CASE WHEN a.m2 > b.m2 OR (a.m2 = b.m2 AND a.doc_id < b.doc_id)
        |      THEN 1 ELSE 0 END
        |     + CASE WHEN a.m3 < b.m3 OR (a.m3 = b.m3 AND a.doc_id < b.doc_id)
        |      THEN 1 ELSE 0 END) votes_a
        |  FROM pool a JOIN pool b ON a.doc_id < b.doc_id),
        |dec AS (SELECT da, db, CASE WHEN votes_a >= 2 THEN 1 ELSE 0 END aw
        |  FROM pairs),
        |per AS (
        |  SELECT da doc_id, CAST(sum(aw) AS BIGINT) w,
        |    CAST(count(*) AS BIGINT) n FROM dec GROUP BY 1
        |  UNION ALL
        |  SELECT db, CAST(sum(1 - aw) AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM dec GROUP BY 1)
        |SELECT doc_id, CAST(sum(w) AS BIGINT) wins,
        |  CAST(sum(n) - sum(w) AS BIGINT) losses,
        |  CAST(2 * sum(w) - sum(n) AS BIGINT) copeland
        |FROM per GROUP BY 1 ORDER BY copeland DESC, doc_id LIMIT 20""".stripMargin,

    // q245 oracle: the same one-pass flags aggregate, six pair rows
    // UNION ALL'd, same cross-multiplied independence ratio.
    "q245_independence_audit" ->
      """WITH f AS (SELECT
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END fa,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END fb,
        |    CASE WHEN year(o_orderdate) >= 1995 THEN 1 ELSE 0 END fc,
        |    CASE WHEN o_totalprice >= 100000.0 THEN 1 ELSE 0 END fd
        |  FROM orders),
        |a AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(fa) AS BIGINT) na, CAST(sum(fb) AS BIGINT) nb,
        |    CAST(sum(fc) AS BIGINT) nc, CAST(sum(fd) AS BIGINT) nd,
        |    CAST(sum(fa * fb) AS BIGINT) nab,
        |    CAST(sum(fa * fc) AS BIGINT) nac,
        |    CAST(sum(fa * fd) AS BIGINT) nad,
        |    CAST(sum(fb * fc) AS BIGINT) nbc,
        |    CAST(sum(fb * fd) AS BIGINT) nbd,
        |    CAST(sum(fc * fd) AS BIGINT) ncd
        |  FROM f),
        |p AS (
        |  SELECT 'prio_URGENT*price_ge_100k' pair, nb n_a, nd n_b,
        |    nbd n_ab, n FROM a
        |  UNION ALL SELECT 'prio_URGENT*year_ge_1995', nb, nc, nbc, n FROM a
        |  UNION ALL SELECT 'status_F*price_ge_100k', na, nd, nad, n FROM a
        |  UNION ALL SELECT 'status_F*prio_URGENT', na, nb, nab, n FROM a
        |  UNION ALL SELECT 'status_F*year_ge_1995', na, nc, nac, n FROM a
        |  UNION ALL SELECT 'year_ge_1995*price_ge_100k', nc, nd, ncd, n
        |    FROM a)
        |SELECT pair, n_a, n_b, n_ab,
        |  CAST((n_a * n_b) // n AS BIGINT) est_ab,
        |  CASE WHEN n_a * n_b > 0
        |    THEN CAST((1000000 * n_ab * n) // (n_a * n_b) AS BIGINT) END
        |    indep_ratio_ppm
        |FROM p ORDER BY pair""".stripMargin,

    // q246 oracle: the identical floor-before-sum χ² contract per
    // pair; categories stringified the same way ppm/milli scales match.
    "q246_cramers_v" ->
      """WITH o1 AS (SELECT CAST(o_orderstatus AS VARCHAR) a,
        |    CAST(o_orderpriority AS VARCHAR) b FROM orders),
        |o2 AS (SELECT CAST(o_orderstatus AS VARCHAR) a,
        |    CAST(year(o_orderdate) AS VARCHAR) b FROM orders),
        |o3 AS (SELECT CAST(c_nationkey AS VARCHAR) a,
        |    CAST(c_mktsegment AS VARCHAR) b FROM customer),
        |u AS (
        |  SELECT 'orders: status x priority' pair, a, b FROM o1
        |  UNION ALL SELECT 'orders: status x year', a, b FROM o2
        |  UNION ALL SELECT 'customer: nation x segment', a, b FROM o3),
        |cells AS (SELECT pair, a, b, CAST(count(*) AS BIGINT) o
        |  FROM u GROUP BY 1, 2, 3),
        |ma AS (SELECT pair, a, CAST(count(*) AS BIGINT) ra
        |  FROM u GROUP BY 1, 2),
        |mb AS (SELECT pair, b, CAST(count(*) AS BIGINT) cb
        |  FROM u GROUP BY 1, 2),
        |nn AS (SELECT pair, CAST(count(*) AS BIGINT) n,
        |    CAST(count(DISTINCT a) AS BIGINT) r_cats,
        |    CAST(count(DISTINCT b) AS BIGINT) c_cats
        |  FROM u GROUP BY 1),
        |t AS (SELECT c.pair, nn.n, nn.r_cats, nn.c_cats,
        |    CAST(sum((1000 * (c.o * nn.n - ma.ra * mb.cb)
        |      * (c.o * nn.n - ma.ra * mb.cb))
        |      // (ma.ra * mb.cb * nn.n)) AS BIGINT) chi2_milli
        |  FROM cells c
        |  JOIN ma ON ma.pair = c.pair AND ma.a = c.a
        |  JOIN mb ON mb.pair = c.pair AND mb.b = c.b
        |  JOIN nn ON nn.pair = c.pair
        |  GROUP BY 1, 2, 3, 4)
        |SELECT pair, n, r_cats, c_cats, chi2_milli,
        |  CAST((1000 * chi2_milli)
        |    // (n * least(r_cats - 1, c_cats - 1)) AS BIGINT) v2_ppm
        |FROM t ORDER BY pair""".stripMargin,

    // q247 oracle: the unnormalized Haar pyramid as four grouped
    // CTE stages (sign by index parity), energies d²·2^(8−l), the same
    // (energy DESC, lev, idx) ranking, dropped-energy sum as the SSE.
    "q247_wavelet_synopsis" ->
      """WITH bands AS (SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) band,
        |    CAST(count(*) AS BIGINT) f FROM customer GROUP BY 1),
        |bidx AS (SELECT f, row_number() OVER (ORDER BY band) - 1 i
        |  FROM bands),
        |g16 AS (SELECT unnest(generate_series(0, 15)) i),
        |x AS (SELECT g16.i, CAST(COALESCE(bidx.f, 0) AS BIGINT) v
        |  FROM g16 LEFT JOIN bidx ON bidx.i = g16.i),
        |l1 AS (SELECT i // 2 j,
        |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) d,
        |    CAST(sum(v) AS BIGINT) s FROM x GROUP BY 1),
        |l2 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM l1 GROUP BY 1),
        |l3 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM l2 GROUP BY 1),
        |l4 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM l3 GROUP BY 1),
        |coeffs AS (
        |  SELECT 1 lev, j idx, d coeff, d * d * 128 energy FROM l1
        |  UNION ALL SELECT 2, j, d, d * d * 64 FROM l2
        |  UNION ALL SELECT 3, j, d, d * d * 32 FROM l3
        |  UNION ALL SELECT 4, j, d, d * d * 16 FROM l4),
        |rankd AS (SELECT lev, idx, coeff, energy,
        |    row_number() OVER (ORDER BY energy DESC, lev, idx) rnk
        |  FROM coeffs)
        |SELECT CAST(rnk AS BIGINT) rnk, CAST(lev AS BIGINT) lev,
        |  CAST(idx AS BIGINT) idx, CAST(coeff AS BIGINT) coeff,
        |  CAST(energy AS BIGINT) energy,
        |  CAST((SELECT s FROM l4) AS BIGINT) s_total,
        |  CAST((SELECT sum(energy) FROM rankd WHERE rnk > 4) AS BIGINT)
        |    sse_dropped
        |FROM rankd WHERE rnk <= 4 ORDER BY rnk""".stripMargin,

    // q248 oracle: ordered string_agg per (user, day), the same
    // non-overlapping leftmost regex count (RE2 and java.util.regex
    // agree on this alternation-free pattern).
    "q248_row_pattern" ->
      """WITH ev AS (SELECT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, ts, event_id,
        |    CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |      ELSE 'v' END cd
        |  FROM events),
        |seqs AS (SELECT user_id, day,
        |    string_agg(cd, '' ORDER BY ts, event_id) seq
        |  FROM ev GROUP BY 1, 2)
        |SELECT user_id, day, seq, CAST(length(seq) AS BIGINT) seq_len,
        |  CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT) n_matches
        |FROM seqs WHERE len(regexp_extract_all(seq, 'vc+p')) > 0
        |ORDER BY user_id, day""".stripMargin,

    // q249 oracle: the same cross-multiplied bucket rule, in-bucket
    // slots, batches of 8, and padded = Σ max·cnt arithmetic.
    "q249_padding_sweep" ->
      """WITH docs AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) tok
        |  FROM documents),
        |nd AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM docs),
        |ks AS (SELECT unnest([1, 2, 4, 8]) k),
        |r AS (SELECT ks.k, d.doc_id, d.tok, CAST(row_number()
        |    OVER (PARTITION BY ks.k ORDER BY d.tok, d.doc_id) AS BIGINT) pos
        |  FROM ks CROSS JOIN docs d),
        |b AS (SELECT k, doc_id, tok,
        |    ((pos - 1) * k) // (SELECT n_docs FROM nd) bucket FROM r),
        |sl AS (SELECT k, bucket, tok, CAST(row_number()
        |    OVER (PARTITION BY k, bucket ORDER BY tok, doc_id) AS BIGINT)
        |    slot
        |  FROM b),
        |bt AS (SELECT k, bucket, (slot - 1) // 8 batch,
        |    CAST(max(tok) AS BIGINT) mx, CAST(count(*) AS BIGINT) cnt,
        |    CAST(sum(tok) AS BIGINT) tk
        |  FROM sl GROUP BY 1, 2, 3),
        |agg AS (SELECT CAST(k AS BIGINT) k,
        |    CAST(count(*) AS BIGINT) n_batches,
        |    CAST(sum(tk) AS BIGINT) sum_tokens,
        |    CAST(sum(mx * cnt) AS BIGINT) padded_tokens
        |  FROM bt GROUP BY 1)
        |SELECT k, n_batches, sum_tokens, padded_tokens,
        |  CAST((1000000 * (padded_tokens - sum_tokens)) // padded_tokens
        |    AS BIGINT) waste_ppm
        |FROM agg ORDER BY k""".stripMargin,

    // q250 oracle: two independent fact aggregates at the conformed
    // day-of-month grain, FULL JOIN, same cross-multiplied shares.
    "q250_drill_across" ->
      """WITH o AS (SELECT CAST(date_part('day', o_orderdate) AS BIGINT)
        |      dom,
        |    CAST(count(*) AS BIGINT) n_orders,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) revenue_cents
        |  FROM orders GROUP BY 1),
        |e AS (SELECT CAST(date_part('day', CAST(ts AS TIMESTAMP))
        |      AS BIGINT) dom,
        |    CAST(count(*) AS BIGINT) n_events,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      event_value_cents
        |  FROM events GROUP BY 1),
        |j AS (SELECT COALESCE(o.dom, e.dom) dom,
        |    COALESCE(n_orders, 0) n_orders,
        |    COALESCE(revenue_cents, 0) revenue_cents,
        |    COALESCE(n_events, 0) n_events,
        |    COALESCE(event_value_cents, 0) event_value_cents
        |  FROM o FULL JOIN e ON o.dom = e.dom),
        |t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) tot_rev,
        |    CAST(sum(event_value_cents) AS BIGINT) tot_ev FROM j)
        |SELECT dom, n_orders, revenue_cents,
        |  CAST((1000000 * revenue_cents) // (SELECT tot_rev FROM t)
        |    AS BIGINT) rev_share_ppm,
        |  n_events, event_value_cents,
        |  CAST((1000000 * event_value_cents) // (SELECT tot_ev FROM t)
        |    AS BIGINT) ev_share_ppm
        |FROM j ORDER BY dom""".stripMargin,

    // q251 oracle: the PLAIN global threshold — SON's losslessness is
    // the claim under test; any shard-dependence would hash-mismatch.
    "q251_son_frequent_pairs" ->
      """WITH bask AS (SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type
        |  FROM events),
        |nb AS (SELECT CAST(count(*) AS BIGINT) n_baskets
        |  FROM (SELECT DISTINCT user_id, day FROM bask)),
        |p AS (SELECT a.event_type ta, b.event_type tb,
        |    CAST(count(*) AS BIGINT) n_ab
        |  FROM bask a JOIN bask b ON a.user_id = b.user_id
        |    AND a.day = b.day AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta type_a, tb type_b, n_ab,
        |  (SELECT n_baskets FROM nb) n_baskets,
        |  CAST((1000000 * n_ab) // (SELECT n_baskets FROM nb) AS BIGINT)
        |    support_ppm
        |FROM p WHERE n_ab * 1000000 >= 140000 * (SELECT n_baskets FROM nb)
        |ORDER BY 1, 2""".stripMargin,

    // q252 oracle: same floor quotas, cross-multiplied remainders,
    // largest-remainder ranking with the source tiebreak.
    "q252_hamilton_alloc" ->
      """WITH w AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) w_tot FROM w),
        |q AS (SELECT source, n_tokens,
        |    (10000 * n_tokens) // (SELECT w_tot FROM t) quota,
        |    10000 * n_tokens - ((10000 * n_tokens) // (SELECT w_tot FROM t))
        |      * (SELECT w_tot FROM t) rem
        |  FROM w),
        |l AS (SELECT 10000 - CAST(sum(quota) AS BIGINT) lv FROM q),
        |r AS (SELECT source, n_tokens, quota, rem, CAST(row_number()
        |    OVER (ORDER BY rem DESC, source) AS BIGINT) rrank FROM q)
        |SELECT source, n_tokens, CAST(quota AS BIGINT) quota,
        |  CAST(CASE WHEN rrank <= (SELECT lv FROM l) THEN 1 ELSE 0 END
        |    AS BIGINT) extra,
        |  CAST(quota + CASE WHEN rrank <= (SELECT lv FROM l)
        |    THEN 1 ELSE 0 END AS BIGINT) alloc
        |FROM r ORDER BY source""".stripMargin,

    // q253 oracle: identical gap stream (lag from −1), varint CASE
    // ladder, and the exact bin-length log₂ in the Elias-Fano formula.
    "q253_postings_compression" ->
      """WITH toks AS (SELECT DISTINCT doc_id, t.term FROM documents,
        |    unnest(string_split(lower(text), ' ')) AS t(term)
        |  WHERE length(t.term) > 0),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) df,
        |    CAST(max(doc_id) AS BIGINT) mx FROM toks GROUP BY 1),
        |top AS (SELECT * FROM dft ORDER BY df DESC, term LIMIT 50),
        |g AS (SELECT t.term, doc_id - COALESCE(lag(doc_id) OVER
        |      (PARTITION BY t.term ORDER BY doc_id), -1) gap
        |  FROM toks t JOIN top ON top.term = t.term),
        |vb AS (SELECT term, CAST(sum(CASE WHEN gap < 128 THEN 1
        |    WHEN gap < 16384 THEN 2 WHEN gap < 2097152 THEN 3
        |    WHEN gap < 268435456 THEN 4 ELSE 5 END) AS BIGINT)
        |    varint_bytes
        |  FROM g GROUP BY 1)
        |SELECT top.term, top.df, vb.varint_bytes,
        |  CAST(top.df * (2 + length(bin((top.mx + 1) // top.df)) - 1)
        |    AS BIGINT) ef_bits,
        |  CASE WHEN vb.varint_bytes * 8 <=
        |    top.df * (2 + length(bin((top.mx + 1) // top.df)) - 1)
        |    THEN 'varint' ELSE 'ef' END winner
        |FROM top JOIN vb ON vb.term = top.term
        |ORDER BY top.df DESC, top.term""".stripMargin,

    // q254 oracle: the same banded join, per-purchase (ts, event_id)
    // ranking, remainder-to-last linear split, and 'direct' fallback.
    "q254_attribution_models" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
        |    event_type FROM events),
        |purch AS (SELECT user_id pu, ts pts, event_id pid FROM ev
        |  WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id tu, ts tts, event_id tid,
        |    event_type channel FROM ev WHERE event_type <> 'purchase'),
        |pairs AS (SELECT pid, channel, tts, tid FROM purch JOIN touch
        |  ON tu = pu AND tts < pts AND tts >= pts - INTERVAL 1 DAY),
        |ranked AS (SELECT pid, channel,
        |    CAST(row_number() OVER (PARTITION BY pid ORDER BY tts, tid)
        |      AS BIGINT) rn,
        |    CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) nt
        |  FROM pairs),
        |credited AS (SELECT channel,
        |    CASE WHEN rn = 1 THEN 1000 ELSE 0 END first_milli,
        |    CASE WHEN rn = nt THEN 1000 ELSE 0 END last_milli,
        |    (1000 // nt) + CASE WHEN rn = nt
        |      THEN 1000 - nt * (1000 // nt) ELSE 0 END linear_milli
        |  FROM ranked
        |  UNION ALL
        |  SELECT 'direct', 1000, 1000, 1000 FROM purch
        |  WHERE pid NOT IN (SELECT DISTINCT pid FROM ranked))
        |SELECT channel, CAST(sum(first_milli) AS BIGINT) first_touch_milli,
        |  CAST(sum(last_milli) AS BIGINT) last_touch_milli,
        |  CAST(sum(linear_milli) AS BIGINT) linear_milli
        |FROM credited GROUP BY 1 ORDER BY 1""".stripMargin,

    // q255 oracle: the q241 stack (three bucketings) + the q247 Haar
    // stack + the sign/weight reconstruction of 16·x̂ from the kept
    // coefficients, prefix-summed, clamped at 0 before the one DIV 16.
    "q255_synopsis_bakeoff" ->
      """WITH bands AS (SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) band,
        |    CAST(count(*) AS BIGINT) f FROM customer GROUP BY 1),
        |idx AS (SELECT band, f,
        |    CAST(row_number() OVER (ORDER BY band) AS BIGINT) i FROM bands),
        |cum AS (SELECT i, band, f,
        |    CAST(sum(f) OVER (ORDER BY i) AS BIGINT) cf,
        |    CAST(sum(f * f) OVER (ORDER BY i) AS BIGINT) cf2 FROM idx),
        |nv AS (SELECT CAST(max(i) AS BIGINT) v FROM cum),
        |tot AS (SELECT CAST(sum(f) AS BIGINT) n FROM bands),
        |sege AS (SELECT lo.i lo, hi.i hi,
        |    hi.cf - lo.cf + lo.f sf,
        |    CAST((720720 // (hi.i - lo.i + 1)) *
        |      ((hi.i - lo.i + 1) * (hi.cf2 - lo.cf2 + lo.f * lo.f)
        |       - (hi.cf - lo.cf + lo.f) * (hi.cf - lo.cf + lo.f))
        |      AS BIGINT) e
        |  FROM cum lo JOIN cum hi ON lo.i <= hi.i),
        |d1 AS (SELECT hi j, e e1 FROM sege WHERE lo = 1),
        |d2 AS (SELECT j, k, e2 FROM (
        |    SELECT s.hi j, d1.j k, d1.e1 + s.e e2, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d1.e1 + s.e, d1.j) rn
        |    FROM d1 JOIN sege s ON s.lo = d1.j + 1) WHERE rn = 1),
        |d3 AS (SELECT j, k, e3 FROM (
        |    SELECT s.hi j, d2.j k, d2.e2 + s.e e3, row_number()
        |      OVER (PARTITION BY s.hi ORDER BY d2.e2 + s.e, d2.j) rn
        |    FROM d2 JOIN sege s ON s.lo = d2.j + 1) WHERE rn = 1),
        |d4 AS (SELECT k, e4 FROM (
        |    SELECT d3.j k, d3.e3 + s.e e4, row_number()
        |      OVER (ORDER BY d3.e3 + s.e, d3.j) rn
        |    FROM d3 JOIN sege s ON s.lo = d3.j + 1
        |      AND s.hi = (SELECT v FROM nv)) WHERE rn = 1),
        |bt AS (SELECT d2.k k1, d3.k k2, d4.k k3
        |  FROM d4 JOIN d3 ON d3.j = d4.k JOIN d2 ON d2.j = d3.k),
        |ed1 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 1 * n), 1),
        |    (SELECT v FROM nv) - 3) h),
        |ed2 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 2 * n),
        |    (SELECT h FROM ed1) + 1), (SELECT v FROM nv) - 2) h),
        |ed3 AS (SELECT least(greatest(
        |    (SELECT min(i) FROM cum, tot WHERE cf * 4 >= 3 * n),
        |    (SELECT h FROM ed2) + 1), (SELECT v FROM nv) - 1) h),
        |allb AS (
        |  SELECT 'equi_width' hist,
        |    ((t.i - 1) * (SELECT v FROM nv)) // 4 + 1 lo,
        |    (t.i * (SELECT v FROM nv)) // 4 hi
        |  FROM (VALUES (1), (2), (3), (4)) t(i)
        |  UNION ALL
        |  SELECT 'equi_depth', CAST(1 AS BIGINT), (SELECT h FROM ed1)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed1) + 1,
        |    (SELECT h FROM ed2)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed2) + 1,
        |    (SELECT h FROM ed3)
        |  UNION ALL SELECT 'equi_depth', (SELECT h FROM ed3) + 1,
        |    (SELECT v FROM nv)
        |  UNION ALL
        |  SELECT 'v_optimal', CAST(1 AS BIGINT), (SELECT k1 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k1 FROM bt) + 1,
        |    (SELECT k2 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k2 FROM bt) + 1,
        |    (SELECT k3 FROM bt)
        |  UNION ALL SELECT 'v_optimal', (SELECT k3 FROM bt) + 1,
        |    (SELECT v FROM nv)),
        |estb AS (SELECT b.hist, c.i t,
        |    CAST(sum(CASE WHEN b.hi <= c.i THEN s.sf
        |      WHEN b.lo > c.i THEN 0
        |      ELSE (s.sf * (c.i - b.lo + 1)) // (b.hi - b.lo + 1) END)
        |      AS BIGINT) est
        |  FROM allb b JOIN sege s ON s.lo = b.lo AND s.hi = b.hi, cum c
        |  GROUP BY 1, 2),
        |errb AS (SELECT e.hist, e.t, abs(e.est - c2.cf) ae
        |  FROM estb e JOIN cum c2 ON c2.i = e.t),
        |bidx AS (SELECT f, row_number() OVER (ORDER BY band) - 1 i
        |  FROM bands),
        |g16 AS (SELECT unnest(generate_series(0, 15)) i),
        |x AS (SELECT g16.i, CAST(COALESCE(bidx.f, 0) AS BIGINT) v
        |  FROM g16 LEFT JOIN bidx ON bidx.i = g16.i),
        |w1 AS (SELECT i // 2 j,
        |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) d,
        |    CAST(sum(v) AS BIGINT) s FROM x GROUP BY 1),
        |w2 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM w1 GROUP BY 1),
        |w3 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM w2 GROUP BY 1),
        |w4 AS (SELECT j // 2 j,
        |    CAST(sum(CASE WHEN j % 2 = 0 THEN s ELSE -s END) AS BIGINT) d,
        |    CAST(sum(s) AS BIGINT) s FROM w3 GROUP BY 1),
        |coeffs AS (
        |  SELECT 1 lev, j idx2, d coeff, d * d * 128 energy FROM w1
        |  UNION ALL SELECT 2, j, d, d * d * 64 FROM w2
        |  UNION ALL SELECT 3, j, d, d * d * 32 FROM w3
        |  UNION ALL SELECT 4, j, d, d * d * 16 FROM w4),
        |rankd AS (SELECT lev, idx2, coeff, row_number()
        |    OVER (ORDER BY energy DESC, lev, idx2) rnk FROM coeffs),
        |wkept AS (SELECT lev, idx2, coeff FROM rankd WHERE rnk <= 4),
        |contrib AS (SELECT g.i, CAST(COALESCE(sum(
        |    CASE WHEN (g.i // (CASE k.lev WHEN 1 THEN 2 WHEN 2 THEN 4
        |        WHEN 3 THEN 8 ELSE 16 END)) = k.idx2
        |      THEN (CASE WHEN ((g.i // (CASE k.lev WHEN 1 THEN 1
        |          WHEN 2 THEN 2 WHEN 3 THEN 4 ELSE 8 END)) % 2) = 0
        |        THEN 1 ELSE -1 END) * k.coeff
        |        * (CASE k.lev WHEN 1 THEN 8 WHEN 2 THEN 4
        |           WHEN 3 THEN 2 ELSE 1 END)
        |      ELSE 0 END), 0) AS BIGINT) c
        |  FROM g16 g LEFT JOIN wkept k ON 1 = 1 GROUP BY 1),
        |xhat AS (SELECT i, (SELECT s FROM w4) + c v16 FROM contrib),
        |werr AS (SELECT 'wavelet_top4' hist, cu.i t,
        |    abs(greatest((SELECT sum(v16) FROM xhat WHERE i < cu.i), 0)
        |      // 16 - cu.cf) ae
        |  FROM cum cu),
        |allerr AS (SELECT hist, t, ae FROM errb
        |  UNION ALL SELECT hist, t, ae FROM werr)
        |SELECT hist, (SELECT v FROM nv) n_queries,
        |  CAST((1000000 * sum(ae))
        |    // ((SELECT v FROM nv) * (SELECT n FROM tot)) AS BIGINT)
        |    mean_abs_err_ppm,
        |  CAST(max((1000000 * ae) // (SELECT n FROM tot)) AS BIGINT)
        |    max_abs_err_ppm
        |FROM allerr GROUP BY 1 ORDER BY 1""".stripMargin,

    // q276 oracle: the identical seeded digest -> 4 unsigned-32-bit
    // chunks -> 125 sign bits, the same integer mean/median algebra
    // (every sum cast to BIGINT — DuckDB sum() promotes to HUGEINT).
    "q276_ams_f2" -> {
      val nG = 5; val pG = 25
      val chunkDefs = (0 to 3).map(c =>
        s"CAST(concat('0x', substr(h, ${c * 8 + 1}, 8)) AS BIGINT) c$c")
        .mkString(",\n         |    ")
      val sumDefs = (0 until nG * pG).map { j =>
        val ch = j / 32; val bp = 31 - (j % 32)
        s"CAST(sum((c$ch >> $bp) & 1) AS BIGINT) s$j"
      }.mkString(",\n         |    ")
      val x2Defs = (0 until nG * pG)
        .map(j => s"(2 * s$j - n) * (2 * s$j - n) x2_$j")
        .mkString(",\n         |    ")
      val meanDefs = (0 until nG).map(g =>
        s"CAST((${(0 until pG).map(i => s"x2_${g * pG + i}").mkString(" + ")}) // $pG AS BIGINT) m$g")
        .mkString(",\n         |    ")
      s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) k FROM lineitem),
         |hh AS (SELECT md5('f2|' || CAST(k AS VARCHAR)) h FROM li),
         |ch AS (SELECT
         |    $chunkDefs
         |  FROM hh),
         |sm AS (SELECT CAST(count(*) AS BIGINT) n,
         |    $sumDefs
         |  FROM ch),
         |x2 AS (SELECT n,
         |    $x2Defs
         |  FROM sm),
         |mg AS (SELECT n,
         |    $meanDefs
         |  FROM x2),
         |est AS (SELECT n n_rows,
         |         list_sort([m0, m1, m2, m3, m4])[3] f2_est FROM mg),
         |ex AS (SELECT CAST(count(*) AS BIGINT) n_keys,
         |         CAST(sum(c * c) AS BIGINT) f2_exact
         |       FROM (SELECT k, CAST(count(*) AS BIGINT) c FROM li GROUP BY k))
         |SELECT est.n_rows, ex.n_keys, ex.f2_exact,
         |  CAST(est.f2_est AS BIGINT) f2_est,
         |  CAST((1000000 * abs(est.f2_est - ex.f2_exact)) // ex.f2_exact
         |    AS BIGINT) err_ppm
         |FROM est CROSS JOIN ex""".stripMargin
    },

    // q256 oracle: same md5-slice positions (hex via '0x' cast), same
    // distinct-position bit array, same all-positions-present test.
    "q256_bloom_fpr_sweep" ->
      """WITH mem AS (SELECT CAST(c_custkey AS BIGINT) kk FROM customer),
        |ms AS (SELECT unnest([4096, 16384, 65536]) m),
        |js AS (SELECT unnest([1, 2, 3]) j),
        |mpos AS (SELECT DISTINCT m,
        |    CAST(concat('0x', substr(md5(concat(CAST(kk AS VARCHAR),
        |      ':', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % m pos
        |  FROM mem, ms, js),
        |bitcnt AS (SELECT m, CAST(count(*) AS BIGINT) bits_set
        |  FROM mpos GROUP BY 1),
        |pr AS (SELECT kk + 1000000 kk FROM mem),
        |ppos AS (SELECT DISTINCT m, kk,
        |    CAST(concat('0x', substr(md5(concat(CAST(kk AS VARCHAR),
        |      ':', CAST(j AS VARCHAR))), 1, 8)) AS BIGINT) % m pos
        |  FROM pr, ms, js),
        |tot AS (SELECT m, kk, CAST(count(*) AS BIGINT) npos
        |  FROM ppos GROUP BY 1, 2),
        |hit AS (SELECT p.m, p.kk, CAST(count(*) AS BIGINT) matched
        |  FROM ppos p JOIN mpos b ON b.m = p.m AND b.pos = p.pos
        |  GROUP BY 1, 2),
        |fp AS (SELECT t.m, CAST(count(*) AS BIGINT) n_probes,
        |    CAST(sum(CASE WHEN COALESCE(h.matched, 0) = t.npos
        |      THEN 1 ELSE 0 END) AS BIGINT) false_pos
        |  FROM tot t LEFT JOIN hit h ON h.m = t.m AND h.kk = t.kk
        |  GROUP BY 1),
        |nm AS (SELECT CAST(count(*) AS BIGINT) n_inserted FROM mem)
        |SELECT CAST(fp.m AS BIGINT) m, (SELECT n_inserted FROM nm)
        |    n_inserted, b.bits_set,
        |  CAST((1000000 * b.bits_set) // fp.m AS BIGINT) fill_ppm,
        |  fp.n_probes, fp.false_pos,
        |  CAST((1000000 * fp.false_pos) // fp.n_probes AS BIGINT) fpr_ppm
        |FROM fp JOIN bitcnt b ON b.m = fp.m ORDER BY 1""".stripMargin,

    // q230 oracle: the identical Morton interleave spelled as BIGINT
    // shift/mask arithmetic, ntile file assignment with the same full
    // tiebreak, zone overlap as pure integer comparisons.
    "q230_zorder_skipping" -> {
      val zexpr = (0 until 21).map(i =>
        s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
          s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH base AS (SELECT CAST(l_partkey AS BIGINT) x,
         |    CAST(l_suppkey AS BIGINT) y, l_orderkey ok, l_linenumber ln,
         |    $zexpr zkey
         |  FROM lineitem),
         |a AS (SELECT 'natural' layout, ntile(64) OVER (ORDER BY ok, ln) f,
         |        x, y FROM base
         |      UNION ALL
         |      SELECT 'zorder', ntile(64) OVER (ORDER BY zkey, ok, ln),
         |        x, y FROM base),
         |z AS (SELECT layout, f, min(x) mnx, max(x) mxx, min(y) mny,
         |        max(y) mxy, CAST(count(*) AS BIGINT) rows_f,
         |        CAST(sum(CASE WHEN x BETWEEN 1 AND 200
         |          AND y BETWEEN 1 AND 20 THEN 1 ELSE 0 END) AS BIGINT) m
         |      FROM a GROUP BY 1, 2)
         |SELECT layout, CAST(count(*) AS BIGINT) n_files,
         |  CAST(sum(CASE WHEN mxx >= 1 AND mnx <= 200 AND mxy >= 1
         |    AND mny <= 20 THEN 1 ELSE 0 END) AS BIGINT) files_read,
         |  CAST(sum(CASE WHEN mxx >= 1 AND mnx <= 200 AND mxy >= 1
         |    AND mny <= 20 THEN 0 ELSE 1 END) AS BIGINT) files_skipped,
         |  CAST(sum(CASE WHEN mxx >= 1 AND mnx <= 200 AND mxy >= 1
         |    AND mny <= 20 THEN rows_f ELSE 0 END) AS BIGINT) rows_read,
         |  CAST(sum(m) AS BIGINT) rows_matched
         |FROM z GROUP BY 1 ORDER BY layout""".stripMargin
    },

    // q213 oracle: the view recomputed from the FULL join — the compare
    // IS maintenance ≡ recompute.
    "q213_join_view_maint" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // q212 oracle: identical histogram fold over the bounded quality
    // domain.
    "q212_mannwhitney_u" ->
      s"""${ExtQueries.tokCte},
         |q AS (SELECT doc_id, ${ExtQueries.qualitySql} AS quality FROM tok),
         |lab AS (SELECT quality,
         |          CASE WHEN source = 'src0' THEN 1 ELSE 0 END ia,
         |          CASE WHEN source <> 'src0' THEN 1 ELSE 0 END ib
         |        FROM q JOIN documents USING (doc_id)),
         |hist AS (SELECT quality, CAST(sum(ia) AS BIGINT) na,
         |           CAST(sum(ib) AS BIGINT) nb
         |         FROM lab GROUP BY 1),
         |cum AS (SELECT *, COALESCE(sum(nb) OVER (ORDER BY quality
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cb
         |        FROM hist),
         |f AS (SELECT CAST(sum(na) AS BIGINT) n_a, CAST(sum(nb) AS BIGINT) n_b,
         |        CAST(sum(2 * na * cb + na * nb) AS BIGINT) u2
         |      FROM cum)
         |SELECT n_a, n_b, u2, CAST(n_a * n_b AS BIGINT) u2_expected,
         |  CAST((1000000 * u2) // (2 * n_a * n_b) AS BIGINT) auc_ppm
         |FROM f""".stripMargin,

    // q209 oracle: the same 8-lag power-of-2 smoother, geometric-identity
    // denominator, and cross-multiplied flags.
    "q209_ewma_anomaly" -> {
      val numSql = (1 to 8).map(g =>
        s"COALESCE(lag(vq, $g) OVER w, 0) * ${1L << (8 - g)}").mkString(" + ")
      s"""WITH daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) vq
         |  FROM events GROUP BY 1, 2),
         |lagd AS (
         |  SELECT event_type, day, vq,
         |    least(row_number() OVER w - 1, 8) n_prior,
         |    $numSql num
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |f AS (SELECT *, 256 - (1 << (8 - n_prior)) den
         |      FROM lagd WHERE n_prior > 0)
         |SELECT event_type, day, vq, CAST(n_prior AS BIGINT) n_prior,
         |  CAST((1000 * num) // den AS BIGINT) ewma_milli,
         |  CASE WHEN num > 0
         |       THEN CAST((1000000 * vq * den) // num AS BIGINT) END ratio_ppm,
         |  CASE WHEN vq * den > 3 * num THEN 'burst'
         |       WHEN 3 * vq * den < num THEN 'drop'
         |       ELSE 'normal' END flag
         |FROM f ORDER BY event_type, day""".stripMargin
    },

    // Spark dayofweek is 1 = Sunday; DuckDB's is 0 = Sunday — the +1
    // aligns the conventions.
    "q172_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) vq
        |  FROM events GROUP BY 1, 2),
        |byd AS (SELECT event_type, CAST(dayofweek(day) + 1 AS INT) dow,
        |          CAST(count(*) AS BIGINT) n_days,
        |          CAST(sum(vq) AS BIGINT) sum_vq
        |        FROM daily GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n_all,
        |          CAST(sum(vq) AS BIGINT) sum_all
        |        FROM daily GROUP BY 1)
        |SELECT b.event_type, dow, n_days, sum_vq,
        |  CAST((1000000 * sum_vq * n_all) // (n_days * sum_all) AS BIGINT) idx_ppm
        |FROM byd b JOIN tot USING (event_type)
        |ORDER BY b.event_type, dow""".stripMargin,

    "q168_markov_eval" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
        |              event_type FROM events),
        |tr AS (
        |  SELECT event_type from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) to_type,
        |    ts
        |  FROM ev QUALIFY to_type IS NOT NULL),
        |train AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) n FROM tr
        |          WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2),
        |pred AS (SELECT from_type, to_type pred_type FROM (
        |    SELECT from_type, to_type,
        |      row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type) rn
        |    FROM train) WHERE rn = 1),
        |sc AS (SELECT e.from_type, CAST(count(*) AS BIGINT) n_eval,
        |         CAST(sum(CASE WHEN p.pred_type = e.to_type THEN 1 ELSE 0 END)
        |           AS BIGINT) n_correct
        |       FROM (SELECT * FROM tr
        |             WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') e
        |       LEFT JOIN pred p USING (from_type) GROUP BY 1)
        |SELECT from_type, n_eval, n_correct,
        |  CAST((1000000 * n_correct) // n_eval AS BIGINT) acc_ppm
        |FROM sc ORDER BY from_type""".stripMargin,

    "q174_km_by_segment" ->
      """WITH u AS (
        |  SELECT user_id, date_trunc('day', min(CAST(ts AS TIMESTAMP))) f,
        |    date_trunc('day', max(CAST(ts AS TIMESTAMP))) l
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT user_id, date_trunc('day', min(CAST(ts AS TIMESTAMP))) fp
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |seg AS (SELECT u.user_id, COALESCE(c.c_mktsegment, 'unknown') segment
        |        FROM u LEFT JOIN customer c ON u.user_id = c.c_custkey),
        |d AS (SELECT u.user_id, seg.segment,
        |        CASE WHEN fp IS NOT NULL THEN CAST(datediff('day', f, fp) AS BIGINT)
        |             ELSE CAST(datediff('day', f, l) AS BIGINT) END t,
        |        CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END converted
        |      FROM u LEFT JOIN p USING (user_id) JOIN seg USING (user_id)),
        |tot AS (SELECT segment, CAST(count(*) AS BIGINT) n FROM d GROUP BY 1),
        |byt AS (SELECT segment, t, CAST(sum(converted) AS BIGINT) d_events,
        |          CAST(count(*) AS BIGINT) leaving FROM d GROUP BY 1, 2),
        |r AS (SELECT byt.segment, t, d_events, leaving,
        |        n - COALESCE(sum(leaving) OVER (PARTITION BY byt.segment ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) n_risk
        |      FROM byt JOIN tot ON byt.segment = tot.segment),
        |km AS (SELECT segment, t, CAST(n_risk AS BIGINT) n_risk, d_events,
        |         CAST(leaving - d_events AS BIGINT) n_censored,
        |         CAST(CASE WHEN d_events = 0 THEN 0
        |           WHEN n_risk > d_events THEN floor(1000000 * ln(
        |             CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)))
        |           ELSE -999999999 END AS BIGINT) term_lq
        |       FROM r)
        |SELECT segment, t AS t_days, n_risk, d_events, n_censored,
        |  CAST(sum(term_lq) OVER (PARTITION BY segment ORDER BY t) AS BIGINT)
        |    survival_lq
        |FROM km ORDER BY segment, t_days""".stripMargin,

    "q167_kaplan_meier" ->
      """WITH u AS (
        |  SELECT user_id, date_trunc('day', min(CAST(ts AS TIMESTAMP))) f,
        |    date_trunc('day', max(CAST(ts AS TIMESTAMP))) l
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT user_id, date_trunc('day', min(CAST(ts AS TIMESTAMP))) fp
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT u.user_id,
        |        CASE WHEN fp IS NOT NULL THEN CAST(datediff('day', f, fp) AS BIGINT)
        |             ELSE CAST(datediff('day', f, l) AS BIGINT) END t,
        |        CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END converted
        |      FROM u LEFT JOIN p USING (user_id)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) n FROM d),
        |byt AS (SELECT t, CAST(sum(converted) AS BIGINT) d_events,
        |          CAST(count(*) AS BIGINT) leaving FROM d GROUP BY 1),
        |r AS (SELECT t, d_events, leaving,
        |        n - COALESCE(sum(leaving) OVER (ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) n_risk
        |      FROM byt CROSS JOIN tot),
        |km AS (SELECT t, CAST(n_risk AS BIGINT) n_risk, d_events,
        |         CAST(leaving - d_events AS BIGINT) n_censored,
        |         CAST(CASE WHEN d_events = 0 THEN 0
        |           WHEN n_risk > d_events THEN floor(1000000 * ln(
        |             CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)))
        |           ELSE -999999999 END AS BIGINT) term_lq
        |       FROM r)
        |SELECT t AS t_days, n_risk, d_events, n_censored,
        |  CAST(sum(term_lq) OVER (ORDER BY t) AS BIGINT) survival_lq
        |FROM km ORDER BY t_days""".stripMargin,

    "q166_idf_decontaminate" ->
      s"""${PipelineQueries.trigramCtes},
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) n FROM g),
         |df AS (SELECT s, CAST(count(*) AS BIGINT) df FROM g GROUP BY 1),
         |idf AS (SELECT s, CAST(floor(1000 * ln(
         |          CAST(n AS DOUBLE) / CAST(df AS DOUBLE))) AS BIGINT) w
         |        FROM df CROSS JOIN nn),
         |cg AS (SELECT g.doc_id, s FROM g JOIN documents USING (doc_id)
         |       WHERE source <> 'src0'),
         |bg AS (SELECT g.doc_id bench_doc, s FROM g JOIN documents USING (doc_id)
         |       WHERE source = 'src0'),
         |cw AS (SELECT doc_id, cg.s, w FROM cg JOIN idf USING (s)),
         |hits AS (SELECT cw.doc_id, bench_doc, CAST(sum(w) AS BIGINT) common_w
         |         FROM cw JOIN bg USING (s) GROUP BY 1, 2),
         |mass AS (SELECT doc_id, CAST(sum(w) AS BIGINT) idf_mass FROM cw GROUP BY 1),
         |best AS (SELECT doc_id, bench_doc, common_w,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY common_w DESC, bench_doc) rn
         |  FROM hits)
         |SELECT mass.doc_id, idf_mass,
         |  CAST(COALESCE(bench_doc, -1) AS BIGINT) AS best_bench,
         |  CAST(COALESCE(common_w, 0) AS BIGINT) AS common_idf_q,
         |  CAST(CASE WHEN idf_mass > 0
         |    THEN (1000000 * COALESCE(common_w, 0)) // idf_mass
         |    ELSE 0 END AS BIGINT) AS containment_idf_ppm
         |FROM mass LEFT JOIN (SELECT * FROM best WHERE rn = 1) USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q97_token_pmi" ->
      s"""${ExtQueries.tokCte},
         |u AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |pc AS (SELECT w tok_a, t[i+1] tok_b, CAST(count(*) AS BIGINT) n
         |       FROM u WHERE i < len(t) GROUP BY 1, 2),
         |uc AS (SELECT w token, CAST(count(*) AS BIGINT) cnt FROM u GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) n_tok FROM uc),
         |mt AS (SELECT CAST(sum(n) AS BIGINT) m_pair FROM pc),
         |sc AS (SELECT tok_a, tok_b, n,
         |    CAST(floor(1000 * ln(((CAST(n AS DOUBLE) * CAST(n_tok AS DOUBLE)) * CAST(n_tok AS DOUBLE))
         |      / ((CAST(m_pair AS DOUBLE) * CAST(ca.cnt AS DOUBLE)) * CAST(cb.cnt AS DOUBLE)))) AS BIGINT) pmi_q
         |  FROM pc JOIN uc ca ON pc.tok_a = ca.token
         |  JOIN uc cb ON pc.tok_b = cb.token
         |  CROSS JOIN tot CROSS JOIN mt
         |  WHERE n >= 5)
         |SELECT CAST(row_number() OVER (ORDER BY pmi_q DESC, tok_a, tok_b) AS INT) AS rank,
         |  tok_a, tok_b, n, pmi_q
         |FROM sc QUALIFY rank <= 40 ORDER BY rank""".stripMargin,

    "q99_hist_quantiles" ->
      """WITH v AS (SELECT lang, n_chars x FROM documents),
        |b AS (SELECT min(x) gmin, max(x) gmax FROM v),
        |bi AS (SELECT lang, x, gmin,
        |    greatest((gmax - gmin + 63) // 64, 1) w,
        |    least((x - gmin) // greatest((gmax - gmin + 63) // 64, 1), 63) bin
        |  FROM v CROSS JOIN b),
        |h AS (SELECT lang, gmin, w, bin, count(*) bn FROM bi GROUP BY 1, 2, 3, 4),
        |c AS (SELECT *,
        |    sum(bn) OVER (PARTITION BY lang ORDER BY bin) cum,
        |    sum(bn) OVER (PARTITION BY lang) ntot
        |  FROM h),
        |q AS (SELECT c.*, q_ppm,
        |    (ntot * q_ppm + 999999) // 1000000 target
        |  FROM c CROSS JOIN (SELECT unnest([250000, 500000, 900000]) q_ppm))
        |SELECT lang, CAST(q_ppm AS BIGINT) AS q_ppm, CAST(ntot AS BIGINT) AS n,
        |  CAST(gmin + bin * w + (((target - (cum - bn)) * w) // bn) AS BIGINT) AS est
        |FROM q WHERE cum >= target AND (cum - bn) < target
        |ORDER BY lang, q_ppm""".stripMargin,

    "q100_source_overlap" ->
      s"""${PipelineQueries.trigramCtes},
         |sg AS (SELECT DISTINCT source, s FROM g JOIN documents USING (doc_id)),
         |sz AS (SELECT source, count(*) n FROM sg GROUP BY 1),
         |p AS (SELECT a.source src_a, b.source src_b, count(*) n_shared
         |      FROM sg a JOIN sg b ON a.s = b.s AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |  CAST((1000000 * n_shared) // (na.n + nb.n - n_shared) AS BIGINT)
         |    AS jaccard_ppm
         |FROM p JOIN sz na ON src_a = na.source JOIN sz nb ON src_b = nb.source
         |ORDER BY 1, 2""".stripMargin,

    "q101_weighted_sample" ->
      s"""${ExtQueries.tokCte},
         |s AS (SELECT doc_id, len(t) n_tokens FROM tok WHERE len(t) > 0),
         |k AS (SELECT doc_id, n_tokens,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT u
         |  FROM s),
         |sc AS (SELECT doc_id, n_tokens, u,
         |    CAST(floor(1000000000 * (ln(4294967296.0 / (CAST(u AS DOUBLE) + 1.0))
         |      / CAST(n_tokens AS DOUBLE))) AS BIGINT) key_q
         |  FROM k)
         |SELECT CAST(row_number() OVER (ORDER BY key_q, doc_id) AS INT) AS rank,
         |  doc_id, CAST(n_tokens AS BIGINT) AS weight, u, key_q
         |FROM sc QUALIFY rank <= 100 ORDER BY rank""".stripMargin,

    "q102_interval_lookup" ->
      """WITH scd AS (SELECT o_custkey user_id,
        |    CAST(o_orderdate AS TIMESTAMP) vf, o_orderpriority priority,
        |    CAST(row_number() OVER w AS INT) ver,
        |    COALESCE(lead(CAST(o_orderdate AS TIMESTAMP)) OVER w,
        |      TIMESTAMP '9999-12-31 00:00:00') vt
        |  FROM orders WHERE o_custkey < 150
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ets, event_type
        |       FROM events WHERE user_id < 20)
        |SELECT event_id, user_id, event_type, ver AS "version", priority
        |FROM ev JOIN scd USING (user_id)
        |WHERE ets >= vf AND ets < vt
        |ORDER BY event_id""".stripMargin,

    "q121_token_gini" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |tf AS (SELECT source, token, CAST(count(*) AS BIGINT) f
         |       FROM p JOIN documents USING (doc_id) GROUP BY 1, 2),
         |rk AS (SELECT source, f,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY f, token) AS BIGINT) i
         |  FROM tf),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) n_tokens,
         |        CAST(sum(f) AS BIGINT) n_occ, CAST(sum(i * f) AS BIGINT) si
         |      FROM rk GROUP BY 1)
         |SELECT source, n_tokens, n_occ,
         |  CAST((1000000 * (2 * si - (n_tokens + 1) * n_occ)) // (n_tokens * n_occ) AS BIGINT)
         |    AS gini_ppm
         |FROM a ORDER BY source""".stripMargin,

    "q120_temperature_mix" ->
      s"""${ExtQueries.tokCte},
         |c AS (SELECT lang, CAST(sum(len(t)) AS BIGINT) n_tokens
         |      FROM tok JOIN documents USING (doc_id) GROUP BY 1),
         |p AS (SELECT list({'n': n_tokens} ORDER BY lang) arr FROM c),
         |t AS (SELECT list_reduce(
         |        list_transform(arr, x -> sqrt(CAST(x.n AS DOUBLE))),
         |        (a, b) -> a + b) tot FROM p)
         |SELECT lang, n_tokens,
         |  CAST(floor(1000000 * (sqrt(CAST(n_tokens AS DOUBLE)) / tot)) AS BIGINT)
         |    AS share_ppm
         |FROM c, t ORDER BY lang""".stripMargin,

    "q119_psi_drift" ->
      """WITH v AS (SELECT doc_id, n_chars x FROM documents),
        |b AS (SELECT min(x) gmin, max(x) gmax FROM v),
        |bi AS (SELECT doc_id,
        |    least((x - gmin) // greatest((gmax - gmin + 63) // 64, 1), 63) bin,
        |    CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END pop
        |  FROM v CROSS JOIN b),
        |c AS (SELECT bin,
        |    sum(CASE WHEN pop = 'ref' THEN 1 ELSE 0 END) n_ref,
        |    sum(CASE WHEN pop = 'cur' THEN 1 ELSE 0 END) n_cur
        |  FROM bi GROUP BY 1),
        |sm AS (SELECT s.bin, COALESCE(n_ref, 0) + 1 c_ref, COALESCE(n_cur, 0) + 1 c_cur
        |       FROM (SELECT unnest(range(64)) bin) s LEFT JOIN c USING (bin)),
        |t AS (SELECT CAST(sum(c_ref) AS BIGINT) t_ref,
        |        CAST(sum(c_cur) AS BIGINT) t_cur FROM sm)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(c_ref AS BIGINT) AS c_ref,
        |  CAST(c_cur AS BIGINT) AS c_cur,
        |  CAST(floor(1000000000 * ((CAST(c_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)
        |    - CAST(c_cur AS DOUBLE) / CAST(t_cur AS DOUBLE))
        |    * ln((CAST(c_ref AS DOUBLE) * CAST(t_cur AS DOUBLE))
        |    / (CAST(c_cur AS DOUBLE) * CAST(t_ref AS DOUBLE))))) AS BIGINT) AS term_q
        |FROM sm, t ORDER BY bin""".stripMargin,

    "q116_cooccurrence" ->
      s"""${ExtQueries.tokCte},
         |dt AS (SELECT DISTINCT doc_id, unnest(t) token FROM tok),
         |pr AS (SELECT a.token tok_a, b.token tok_b
         |       FROM dt a JOIN dt b
         |         ON a.doc_id = b.doc_id AND a.token < b.token),
         |f AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) n
         |      FROM pr GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY n DESC, tok_a, tok_b) AS INT) AS rank,
         |  tok_a, tok_b, n
         |FROM f QUALIFY rank <= 30 ORDER BY rank""".stripMargin,

    "q117_knn_triangles" ->
      s"""${ExtQueries.knnCtes},
         |und AS (SELECT DISTINCT least(vec_id, nbr_id) a, greatest(vec_id, nbr_id) b
         |        FROM r WHERE rank <= 3),
         |tri AS (SELECT count(*) n_triangles
         |        FROM und e1 JOIN und e2 ON e1.b = e2.a
         |        JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
         |deg AS (SELECT v, count(*) dg FROM
         |        (SELECT a v FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) n_nodes,
         |         CAST(sum(dg * (dg - 1) // 2) AS BIGINT) n_wedges FROM deg),
         |ed AS (SELECT CAST(count(*) AS BIGINT) n_edges FROM und)
         |SELECT n_nodes, n_edges, CAST(n_triangles AS BIGINT) AS n_triangles,
         |  n_wedges,
         |  CAST((1000000 * 3 * n_triangles) // n_wedges AS BIGINT) AS clustering_ppm
         |FROM tri, ed, st""".stripMargin,

    "q118_new_users" ->
      """WITH fs AS (SELECT user_id,
        |    min(date_trunc('day', CAST(ts AS TIMESTAMP))) first_day
        |  FROM events GROUP BY 1),
        |dly AS (SELECT first_day d, count(*) n_new FROM fs GROUP BY 1)
        |SELECT d AS "day", CAST(n_new AS BIGINT) AS n_new,
        |  CAST(sum(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_users
        |FROM dly ORDER BY 1""".stripMargin,

    "q115_kmv_sketch" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |ha AS (SELECT DISTINCT ('0x' || substr(md5(token), 1, 8))::BIGINT h
         |       FROM (SELECT DISTINCT token FROM p JOIN documents USING (doc_id)
         |             WHERE source = 'src1')),
         |hb AS (SELECT DISTINCT ('0x' || substr(md5(token), 1, 8))::BIGINT h
         |       FROM (SELECT DISTINCT token FROM p JOIN documents USING (doc_id)
         |             WHERE source = 'src2')),
         |hu AS (SELECT DISTINCT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)),
         |ka AS (SELECT max(h) hk_a, count(*) ns_a
         |       FROM (SELECT h FROM ha ORDER BY h LIMIT 16)),
         |kb AS (SELECT max(h) hk_b, count(*) ns_b
         |       FROM (SELECT h FROM hb ORDER BY h LIMIT 16)),
         |ku AS (SELECT max(h) hk_u, count(*) ns_u
         |       FROM (SELECT h FROM hu ORDER BY h LIMIT 16)),
         |ex AS (SELECT (SELECT count(*) FROM ha) n_a,
         |              (SELECT count(*) FROM hb) n_b,
         |              (SELECT count(*) FROM hu) n_union),
         |es AS (SELECT
         |    CASE WHEN ns_a < 16 THEN CAST(ns_a AS BIGINT)
         |      ELSE CAST(floor(15 * 4294967296.0 / CAST(hk_a AS DOUBLE)) AS BIGINT) END est_a,
         |    CASE WHEN ns_b < 16 THEN CAST(ns_b AS BIGINT)
         |      ELSE CAST(floor(15 * 4294967296.0 / CAST(hk_b AS DOUBLE)) AS BIGINT) END est_b,
         |    CASE WHEN ns_u < 16 THEN CAST(ns_u AS BIGINT)
         |      ELSE CAST(floor(15 * 4294967296.0 / CAST(hk_u AS DOUBLE)) AS BIGINT) END est_union
         |  FROM ka, kb, ku)
         |SELECT CAST(16 AS BIGINT) AS k, est_a, est_b, est_union,
         |  est_a + est_b - est_union AS est_intersect,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  CAST(n_a + n_b - n_union AS BIGINT) AS n_intersect
         |FROM es, ex""".stripMargin,

    // All-pairs matrix twin of q115: per-source k=32 sketches via a
    // ranked window, pairwise union sketches from the SKETCH rows only
    // (KMV closure), identical integer-exact estimate formula.
    "q151_kmv_overlap_matrix" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |st AS (SELECT DISTINCT d.source,
         |         ('0x' || substr(md5(token), 1, 8))::BIGINT h
         |       FROM p JOIN documents d USING (doc_id)),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |           row_number() OVER (PARTITION BY source ORDER BY h) rn
         |         FROM st) WHERE rn <= 32),
         |per AS (SELECT source, max(h) hk, count(*) ns FROM sk GROUP BY source),
         |pr AS (SELECT a.source source_a, b.source source_b,
         |         a.hk hk_a, a.ns ns_a, b.hk hk_b, b.ns ns_b
         |       FROM per a JOIN per b ON a.source < b.source),
         |uh AS (SELECT DISTINCT p.source_a, p.source_b, s.h
         |       FROM pr p JOIN sk s
         |         ON s.source = p.source_a OR s.source = p.source_b),
         |ur AS (SELECT source_a, source_b, h,
         |         row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) rn
         |       FROM uh),
         |us AS (SELECT source_a, source_b, max(h) hk_u, count(*) ns_u
         |       FROM ur WHERE rn <= 32 GROUP BY 1, 2),
         |fin AS (SELECT p.source_a, p.source_b,
         |    CASE WHEN ns_a < 32 THEN CAST(ns_a AS BIGINT)
         |      ELSE CAST(floor(31 * 4294967296.0 / CAST(hk_a AS DOUBLE)) AS BIGINT) END est_a,
         |    CASE WHEN ns_b < 32 THEN CAST(ns_b AS BIGINT)
         |      ELSE CAST(floor(31 * 4294967296.0 / CAST(hk_b AS DOUBLE)) AS BIGINT) END est_b,
         |    CASE WHEN ns_u < 32 THEN CAST(ns_u AS BIGINT)
         |      ELSE CAST(floor(31 * 4294967296.0 / CAST(hk_u AS DOUBLE)) AS BIGINT) END est_union
         |  FROM pr p JOIN us u
         |    ON u.source_a = p.source_a AND u.source_b = p.source_b)
         |SELECT source_a, source_b, est_a, est_b, est_union,
         |  est_a + est_b - est_union AS est_intersect,
         |  (1000000 * greatest(est_a + est_b - est_union, CAST(0 AS BIGINT)))
         |    // est_union AS jaccard_ppm
         |FROM fin ORDER BY source_a, source_b""".stripMargin,

    "q114_keyset_page" ->
      s"""${Relational.mcte},
         |m AS (SELECT MIEMBRO_CAPTION caption, MIEMBRO_UNIQUE_NAME unique_name
         |      FROM members WHERE JERARQUIA = '[Customer].[Geo]'),
         |cur AS (SELECT caption c_cap, unique_name c_un FROM m
         |        ORDER BY caption, unique_name LIMIT 10)
         |SELECT caption, unique_name
         |FROM m CROSS JOIN (SELECT c_cap, c_un FROM cur
         |                   ORDER BY c_cap DESC, c_un DESC LIMIT 1)
         |WHERE caption > c_cap OR (caption = c_cap AND unique_name > c_un)
         |ORDER BY caption, unique_name LIMIT 10""".stripMargin,

    "q195_burst_detection" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) us
        |  FROM events),
        |b AS (SELECT user_id, event_type,
        |    CAST(count(*) OVER (PARTITION BY user_id, event_type ORDER BY us
        |      RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS BIGINT) burst
        |  FROM e),
        |m AS (SELECT user_id, event_type, max(burst) max_burst_1min
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type, CAST(max_burst_1min AS BIGINT) max_burst_1min,
        |  CAST(count(*) AS BIGINT) n_users
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q111_range_frame" ->
      """WITH daily AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) d,
        |    count(*) n_events,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) value_q
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT *, CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) AS BIGINT) day_num
        |      FROM daily)
        |SELECT event_type, d AS "day", n_events, value_q,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS r7_n,
        |  CAST(sum(value_q) OVER w AS BIGINT) AS r7_value_q
        |FROM n WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "q112_snapshot_reconcile" ->
      """WITH daily AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) d, count(*) n
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, d, n n_a FROM daily
        |      WHERE d < TIMESTAMP '2024-01-21 00:00:00'),
        |b AS (SELECT event_type, d, n n_b FROM daily
        |      WHERE d >= TIMESTAMP '2024-01-11 00:00:00')
        |SELECT COALESCE(a.event_type, b.event_type) AS event_type,
        |  COALESCE(a.d, b.d) AS "day",
        |  CAST(COALESCE(n_a, -1) AS BIGINT) AS n_a,
        |  CAST(COALESCE(n_b, -1) AS BIGINT) AS n_b,
        |  CASE WHEN n_a IS NULL THEN 'added'
        |       WHEN n_b IS NULL THEN 'removed'
        |       WHEN n_a = n_b THEN 'same' ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b
        |  ON a.event_type = b.event_type AND a.d = b.d
        |ORDER BY 1, 2""".stripMargin,

    "q113_vocab_setops" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |va AS (SELECT DISTINCT token FROM p JOIN documents USING (doc_id)
         |       WHERE source = 'src1'),
         |vb AS (SELECT DISTINCT token FROM p JOIN documents USING (doc_id)
         |       WHERE source = 'src2')
         |SELECT 'except_a' AS op,
         |  (SELECT count(*) FROM (SELECT token FROM va EXCEPT SELECT token FROM vb)) AS n_tokens
         |UNION ALL SELECT 'except_b',
         |  (SELECT count(*) FROM (SELECT token FROM vb EXCEPT SELECT token FROM va))
         |UNION ALL SELECT 'intersect',
         |  (SELECT count(*) FROM (SELECT token FROM va INTERSECT SELECT token FROM vb))
         |UNION ALL SELECT 'union',
         |  (SELECT count(*) FROM (SELECT token FROM va UNION SELECT token FROM vb))
         |ORDER BY op""".stripMargin,

    "q110_sliding_reach" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) ts, user_id FROM events),
        |b AS (SELECT date_trunc('day', min(ts)) - INTERVAL 6 DAY d0,
        |        date_trunc('day', max(ts)) d1 FROM ev),
        |ws AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) w0 FROM b),
        |j AS (SELECT w0, user_id
        |      FROM ws JOIN ev ON ts >= w0 AND ts < w0 + INTERVAL 7 DAY)
        |SELECT w0 AS win_start, w0 + INTERVAL 7 DAY AS win_end,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  count(*) AS n_events
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q192_spearman_quality_length" ->
      s"""${ExtQueries.tokCte},
         |qx AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) n_tok,
         |         ${ExtQueries.qualitySql} q
         |       FROM tok JOIN documents USING (doc_id)),
         |r AS (SELECT source,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY n_tok, doc_id) AS BIGINT) rl,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY q, doc_id) AS BIGINT) rq
         |      FROM qx),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) n,
         |        CAST(sum((rl - rq) * (rl - rq)) AS BIGINT) sum_d2
         |      FROM r GROUP BY 1)
         |SELECT source, n, sum_d2,
         |  CASE WHEN n > 1
         |       THEN CAST(1000000 - (6000000 * sum_d2) // (n * n * n - n) AS BIGINT)
         |       ELSE CAST(1000000 AS BIGINT) END rho_ppm
         |FROM a ORDER BY source""".stripMargin,

    "q189_ann_recall_curve" ->
      s"""${annTruthIvfCtes(5)},
         |ks AS (SELECT unnest([1, 3, 5]) k),
         |j AS (SELECT bt.query_id, bt.rank t_rank, it.rank a_rank
         |      FROM bt JOIN it ON bt.query_id = it.query_id
         |        AND bt.vec_id = it.vec_id),
         |nqc AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) nq FROM bt),
         |a AS (SELECT k,
         |        CAST(sum(CASE WHEN t_rank <= k AND a_rank <= k
         |                      THEN 1 ELSE 0 END) AS BIGINT) n_hit
         |      FROM j CROSS JOIN ks GROUP BY k)
         |SELECT CAST(k AS BIGINT) k, CAST(COALESCE(n_hit, 0) AS BIGINT) n_hit,
         |  CAST((1000000 * COALESCE(n_hit, 0)) // (k * nq) AS BIGINT) recall_ppm
         |FROM ks LEFT JOIN a USING (k) CROSS JOIN nqc ORDER BY k""".stripMargin,

    "q109_ann_recall" ->
      s"""${annTruthIvfCtes(3)},
         |h AS (SELECT bt.query_id, count(it.vec_id) n_hit
         |      FROM bt LEFT JOIN it ON bt.query_id = it.query_id
         |        AND bt.vec_id = it.vec_id
         |      GROUP BY 1)
         |SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST((1000000 * n_hit) // 3 AS BIGINT) AS recall_ppm
         |FROM h ORDER BY query_id""".stripMargin,

    // Projection CTE = q28's wt/qv/proj chain keeping the magnitudes;
    // full-space truth = q109's bsc/bt chain — neither leg can drift
    // from its sibling oracle.
    "q163_jl_recall" ->
      s"""${ExtQueries.qeCtes},
         |wt AS (SELECT p.p, i.i,
         |    CASE WHEN substr(md5(p.p || '_' || i.i), 1, 1) >= '8' THEN 1 ELSE -1 END w
         |  FROM generate_series(0, 7) p(p), generate_series(0, 63) i(i)),
         |qv AS (SELECT vec_id, unnest(q) x, generate_subscripts(q, 1) - 1 i FROM qe),
         |pj AS (SELECT vec_id, p, CAST(sum(x * w) AS BIGINT) s
         |       FROM qv JOIN wt ON qv.i = wt.i GROUP BY 1, 2),
         |pv AS (SELECT vec_id, list(s ORDER BY p) v FROM pj GROUP BY vec_id),
         |pn AS (SELECT vec_id, CAST(list_dot_product(v, v) AS BIGINT) n FROM pv),
         |bsc AS (SELECT q.vec_id query_id, c.vec_id vec_id,
         |         CAST(list_dot_product(q.q, c.q) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM qe q
         |       JOIN qe c ON c.vec_id <> q.vec_id
         |       JOIN nrm nq ON q.vec_id = nq.vec_id
         |       JOIN nrm nc ON c.vec_id = nc.vec_id
         |       WHERE q.vec_id < 10),
         |bt AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                 vec_id) rank
         |    FROM bsc) WHERE rank <= 3),
         |jsc AS (SELECT q.vec_id query_id, c.vec_id vec_id,
         |         CAST(list_dot_product(q.v, c.v) AS BIGINT) dot,
         |         nq.n nq, nc.n nc
         |       FROM pv q
         |       JOIN pv c ON c.vec_id <> q.vec_id
         |       JOIN pn nq ON q.vec_id = nq.vec_id
         |       JOIN pn nc ON c.vec_id = nc.vec_id
         |       WHERE q.vec_id < 10),
         |jt AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
         |                 vec_id) rank
         |    FROM jsc) WHERE rank <= 3),
         |h AS (SELECT bt.query_id, count(jt.vec_id) n_hit
         |      FROM bt LEFT JOIN jt ON bt.query_id = jt.query_id
         |        AND bt.vec_id = jt.vec_id
         |      GROUP BY 1)
         |SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST((1000000 * n_hit) // 3 AS BIGINT) AS recall_ppm
         |FROM h ORDER BY query_id""".stripMargin,

    "q164_join_size_estimate" ->
      """WITH a AS (SELECT o_custkey k FROM orders),
        |b AS (SELECT user_id k FROM events),
        |ha AS (SELECT k, CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 32 bkt FROM a),
        |hb AS (SELECT k, CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 32 bkt FROM b),
        |sa AS (SELECT bkt, CAST(count(*) AS BIGINT) na,
        |         CAST(count(DISTINCT k) AS BIGINT) da FROM ha GROUP BY 1),
        |sb AS (SELECT bkt, CAST(count(*) AS BIGINT) nb,
        |         CAST(count(DISTINCT k) AS BIGINT) db FROM hb GROUP BY 1),
        |est AS (SELECT CAST(sum(na * nb // greatest(da, db)) AS BIGINT) n_est
        |        FROM sa JOIN sb USING (bkt)),
        |ex AS (SELECT CAST(count(*) AS BIGINT) n_exact FROM a JOIN b USING (k))
        |SELECT n_exact, n_est,
        |  n_est - n_exact AS overest,
        |  (1000000 * abs(n_est - n_exact)) // n_exact AS err_abs_ppm
        |FROM ex CROSS JOIN est""".stripMargin,

    "q108_hll_merge" ->
      """WITH h AS (SELECT o_orderpriority g, md5(CAST(o_custkey AS VARCHAR)) h
        |           FROM orders WHERE o_custkey IS NOT NULL),
        |r0 AS (SELECT g, CAST(concat('0x', substr(h, 1, 2)) AS INT) bucket,
        |         CAST(concat('0x', substr(h, 3, 8)) AS BIGINT) x FROM h),
        |regs AS (SELECT g, bucket,
        |           max(CASE WHEN x > 0 THEN 33 - length(bin(x)) ELSE 33 END) r
        |         FROM r0 GROUP BY 1, 2),
        |s AS (SELECT g, CAST(sum(CAST(1 AS BIGINT) << (48 - r)) AS BIGINT) s_seen,
        |        CAST(count(*) AS BIGINT) nb
        |      FROM regs GROUP BY 1),
        |st AS (SELECT g, nb, s_seen + (256 - nb) * 281474976710656 s_total FROM s),
        |e1 AS (SELECT g, nb,
        |         (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
        |           * 281474976710656.0 / CAST(s_total AS DOUBLE) raw
        |       FROM st),
        |e2 AS (SELECT g, nb,
        |         CASE WHEN raw <= 640.0 AND nb < 256
        |           THEN 256.0 * ln(256.0 / CAST(256 - nb AS DOUBLE))
        |           ELSE raw END est
        |       FROM e1)
        |SELECT g AS o_orderpriority, CAST(nb AS INT) AS n_buckets,
        |  CAST(floor(est * 1000.0) AS BIGINT) AS est_milli
        |FROM e2 ORDER BY 1""".stripMargin,

    "q106_incremental_agg" ->
      """WITH ev AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) d,
        |    CAST(floor(value * 1000) AS BIGINT) vq
        |  FROM events)
        |SELECT event_type, d AS "day", count(*) AS n_events,
        |  CAST(sum(vq) AS BIGINT) AS value_q
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q107_session_native" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events),
        |l AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) pts FROM e),
        |f AS (SELECT user_id, ts,
        |    CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END brk
        |  FROM l),
        |g AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin,

    "q105_lm_score" ->
      s"""${ExtQueries.tokCte},
         |u AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |pr AS (SELECT doc_id, w tok_a, t[i+1] tok_b FROM u WHERE i < len(t)),
         |tr AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
         |lmp AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) cxy
         |        FROM pr JOIN tr USING (doc_id) GROUP BY 1, 2),
         |lmu AS (SELECT w token, CAST(count(*) AS BIGINT) cx
         |        FROM u JOIN tr USING (doc_id) GROUP BY 1),
         |vv AS (SELECT CAST(count(*) AS BIGINT) v FROM lmu),
         |sc AS (SELECT pr.doc_id,
         |    CAST(floor(1000 * ln(CAST(COALESCE(cxy, 0) + 1 AS DOUBLE)
         |      / CAST(COALESCE(cx, 0) + v AS DOUBLE))) AS BIGINT) lp_q
         |  FROM pr LEFT JOIN lmp USING (tok_a, tok_b)
         |  LEFT JOIN lmu ON pr.tok_a = lmu.token CROSS JOIN vv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(lp_q) AS BIGINT) AS sum_lp_q,
         |  CAST(floor(CAST(sum(lp_q) AS DOUBLE) / count(*)) AS BIGINT) AS avg_lp_q
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q162_sorted_neighbor_er" ->
      """WITH nm AS (SELECT DISTINCT p_name FROM part),
        |kd AS (SELECT p_name,
        |  split_part(p_name, ' ', 2) || ' ' || split_part(p_name, ' ', 1) k1,
        |  reverse(p_name) k2 FROM nm),
        |l1 AS (SELECT p_name a_name,
        |  lead(p_name, 1) OVER (ORDER BY k1) b1,
        |  lead(p_name, 2) OVER (ORDER BY k1) b2,
        |  lead(p_name, 3) OVER (ORDER BY k1) b3 FROM kd),
        |l2 AS (SELECT p_name a_name,
        |  lead(p_name, 1) OVER (ORDER BY k2) b1,
        |  lead(p_name, 2) OVER (ORDER BY k2) b2,
        |  lead(p_name, 3) OVER (ORDER BY k2) b3 FROM kd),
        |cand AS (
        |  SELECT a_name, b1 b FROM l1 WHERE b1 IS NOT NULL
        |  UNION SELECT a_name, b2 FROM l1 WHERE b2 IS NOT NULL
        |  UNION SELECT a_name, b3 FROM l1 WHERE b3 IS NOT NULL
        |  UNION SELECT a_name, b1 FROM l2 WHERE b1 IS NOT NULL
        |  UNION SELECT a_name, b2 FROM l2 WHERE b2 IS NOT NULL
        |  UNION SELECT a_name, b3 FROM l2 WHERE b3 IS NOT NULL),
        |sn AS (SELECT DISTINCT least(a_name, b) name_a, greatest(a_name, b) name_b
        |       FROM cand WHERE levenshtein(a_name, b) <= 2),
        |blk AS (SELECT p_name, split_part(p_name, ' ', 2) noun FROM nm),
        |truth AS (SELECT a.p_name name_a, b.p_name name_b
        |  FROM blk a JOIN blk b ON a.noun = b.noun AND a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |bc AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) n_blk_comparisons
        |       FROM (SELECT count(*) m FROM blk GROUP BY noun)),
        |cc AS (SELECT CAST(count(*) AS BIGINT) n_sn_comparisons FROM cand),
        |tc AS (SELECT CAST(count(*) AS BIGINT) n_truth FROM truth),
        |tp AS (SELECT CAST(count(*) AS BIGINT) n_tp
        |       FROM sn JOIN truth USING (name_a, name_b))
        |SELECT n_truth, n_tp, (1000000 * n_tp) // n_truth AS recall_ppm,
        |  n_sn_comparisons, n_blk_comparisons
        |FROM tc CROSS JOIN tp CROSS JOIN cc CROSS JOIN bc""".stripMargin,

    "q160_cube_grouping" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(grouping(l_returnflag) * 4 + grouping(l_linestatus) * 2
        |    + grouping(year(l_shipdate)) AS INT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_q
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus, year(l_shipdate))
        |ORDER BY gid, l_returnflag, l_linestatus, ship_year""".stripMargin,

    "q161_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(count(*) AS BIGINT) x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |         CAST(sum(x) AS BIGINT) t
        |       FROM daily GROUP BY 1),
        |dd AS (SELECT d.event_type, day, x, n * x - t AS dev
        |       FROM daily d JOIN st USING (event_type)),
        |cs AS (SELECT event_type, day, x,
        |    CAST(sum(dev) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) c
        |  FROM dd),
        |s AS (SELECT event_type, day, x,
        |    c - least(min(c) OVER (PARTITION BY event_type ORDER BY day), 0) cusum_q
        |  FROM cs)
        |SELECT event_type, day, x AS n_events, cusum_q,
        |  CAST(CASE WHEN row_number() OVER (PARTITION BY event_type
        |    ORDER BY cusum_q DESC, day) = 1 THEN 1 ELSE 0 END AS INT) AS is_peak
        |FROM s ORDER BY event_type, day""".stripMargin,

    // Same CASE structure, operand order and quantization as the Spark
    // expression — the double arithmetic is IEEE-identical term by term,
    // and the one ln() rides the documented parity posture.
    "q158_kn_lm_score" ->
      s"""${ExtQueries.tokCte},
         |u AS (SELECT doc_id, t, unnest(t) w, generate_subscripts(t, 1) i FROM tok),
         |pr AS (SELECT doc_id, w tok_a, t[i+1] tok_b FROM u WHERE i < len(t)),
         |tr AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
         |lmp AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) cxy
         |        FROM pr JOIN tr USING (doc_id) GROUP BY 1, 2),
         |ctx AS (SELECT tok_a, CAST(sum(cxy) AS BIGINT) c1,
         |          CAST(count(*) AS BIGINT) n1f
         |        FROM lmp GROUP BY 1),
         |cont AS (SELECT tok_b, CAST(count(*) AS BIGINT) n1r FROM lmp GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) n1all FROM lmp),
         |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) v
         |       FROM u JOIN tr USING (doc_id)),
         |sc AS (SELECT pr.doc_id,
         |    CAST(floor(1000 * ln(
         |      CASE WHEN c1 IS NULL
         |      THEN CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(n1all + v + 1 AS DOUBLE)
         |      ELSE greatest(CAST(COALESCE(cxy, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
         |        + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
         |          * (CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(n1all + v + 1 AS DOUBLE))
         |      END)) AS BIGINT) lp_q
         |  FROM pr LEFT JOIN lmp USING (tok_a, tok_b)
         |  LEFT JOIN ctx ON pr.tok_a = ctx.tok_a
         |  LEFT JOIN cont ON pr.tok_b = cont.tok_b
         |  CROSS JOIN nn CROSS JOIN vv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(lp_q) AS BIGINT) AS sum_lp_q,
         |  CAST(floor(CAST(sum(lp_q) AS DOUBLE) / count(*)) AS BIGINT) AS avg_lp_q
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    // Components via recursive reachability-to-minimum (the q136 oracle
    // pattern) — an independent algorithm from the Spark union-find /
    // pointer-jumping path, same labels.
    "q268_bitemporal_asof" ->
      """WITH v AS (SELECT o_custkey user_id,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) vt_us,
        |    o_orderpriority priority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey) ver,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |      + (o_orderkey % 72) * 3600000000 tx_us
        |  FROM orders WHERE o_custkey < 100),
        |p AS (SELECT * FROM (VALUES
        |    (1, epoch_us(TIMESTAMP '1994-01-01 00:00:00'),
        |        epoch_us(TIMESTAMP '1994-01-02 00:00:00')),
        |    (2, epoch_us(TIMESTAMP '1994-01-01 00:00:00'),
        |        epoch_us(TIMESTAMP '1998-12-31 00:00:00')),
        |    (3, epoch_us(TIMESTAMP '1996-06-15 00:00:00'),
        |        epoch_us(TIMESTAMP '1996-06-16 00:00:00')),
        |    (4, epoch_us(TIMESTAMP '1996-06-15 00:00:00'),
        |        epoch_us(TIMESTAMP '1998-12-31 00:00:00'))
        |  ) AS t(probe_id, tv_us, tt_us)),
        |sel AS (SELECT probe_id, user_id, ver, priority, vt_us FROM (
        |    SELECT p.probe_id, v.user_id, v.ver, v.priority, v.vt_us,
        |      row_number() OVER (PARTITION BY p.probe_id, v.user_id
        |        ORDER BY v.vt_us DESC, v.ver DESC) rn
        |    FROM v JOIN p ON v.vt_us <= p.tv_us AND v.tx_us <= p.tt_us)
        |  WHERE rn = 1)
        |SELECT CAST(probe_id AS INT) AS probe_id, user_id,
        |  CAST(ver AS INT) AS "version", priority,
        |  make_timestamp(vt_us) AS valid_from
        |FROM sel ORDER BY probe_id, user_id""".stripMargin,

    // q264 oracle: min_cents from a FULL from-scratch recompute over
    // survivors; the flag derived independently (deleted min == base
    // min) — the compare proves maintained ≡ recompute, flag included.
    "q264_min_maint_deletes" ->
      """WITH o AS (SELECT o_custkey custkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) cents,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END del
        |  FROM orders),
        |st AS (SELECT custkey, min(cents) min0 FROM o GROUP BY 1),
        |dm AS (SELECT custkey, min(cents) dmin FROM o WHERE del = 1 GROUP BY 1),
        |scratch AS (SELECT custkey, min(cents) min_cents FROM o
        |            WHERE del = 0 GROUP BY 1),
        |fl AS (SELECT st.custkey,
        |         CASE WHEN dm.dmin = st.min0 THEN 1 ELSE 0 END rec
        |       FROM st LEFT JOIN dm USING (custkey))
        |SELECT s.custkey, s.min_cents, CAST(fl.rec AS INT) AS recomputed
        |FROM scratch s JOIN fl USING (custkey)
        |ORDER BY s.custkey""".stripMargin,

    "q261_fellegi_sunter" ->
      """WITH rec AS (SELECT p_name,
        |    arg_min(p_brand, p_partkey) brand,
        |    arg_min(p_type, p_partkey) ptype,
        |    CAST(arg_min(p_size, p_partkey) AS BIGINT) sz,
        |    split_part(p_name, ' ', 2) noun
        |  FROM part GROUP BY p_name),
        |nt AS (SELECT count(*) n_rec FROM rec),
        |ub AS (SELECT greatest(least(CAST((1000 * sum(f * (f - 1))) //
        |           (n_rec * (n_rec - 1)) AS BIGINT), 999), 1) u_brand
        |       FROM (SELECT count(*) f FROM rec GROUP BY brand) CROSS JOIN nt
        |       GROUP BY n_rec),
        |uc AS (SELECT greatest(least(CAST((1000 * sum(f * (f - 1))) //
        |           (n_rec * (n_rec - 1)) AS BIGINT), 999), 1) u_ptype
        |       FROM (SELECT count(*) f FROM rec GROUP BY ptype) CROSS JOIN nt
        |       GROUP BY n_rec),
        |uz AS (SELECT greatest(least(CAST((1000 * sum(f * (f - 1))) //
        |           (n_rec * (n_rec - 1)) AS BIGINT), 999), 1) u_sz
        |       FROM (SELECT count(*) f FROM rec GROUP BY sz) CROSS JOIN nt
        |       GROUP BY n_rec),
        |cand AS (SELECT a.p_name name_a, b.p_name name_b,
        |    CASE WHEN a.brand = b.brand THEN 1 ELSE 0 END ag_brand,
        |    CASE WHEN a.ptype = b.ptype THEN 1 ELSE 0 END ag_type,
        |    CASE WHEN a.sz = b.sz THEN 1 ELSE 0 END ag_size
        |  FROM rec a JOIN rec b ON a.noun = b.noun AND a.p_name < b.p_name),
        |sc AS (SELECT name_a, name_b, ag_brand, ag_type, ag_size,
        |    (CASE WHEN ag_brand = 1 THEN 950000 // u_brand
        |          ELSE 50000 // (1000 - u_brand) END) *
        |    (CASE WHEN ag_type = 1 THEN 950000 // u_ptype
        |          ELSE 50000 // (1000 - u_ptype) END) *
        |    (CASE WHEN ag_size = 1 THEN 950000 // u_sz
        |          ELSE 50000 // (1000 - u_sz) END) score
        |  FROM cand CROSS JOIN ub CROSS JOIN uc CROSS JOIN uz)
        |SELECT name_a, name_b, CAST(ag_brand AS INT) AS ag_brand,
        |  CAST(ag_type AS INT) AS ag_type,
        |  CAST(ag_size AS INT) AS ag_size, CAST(score AS BIGINT) AS score
        |FROM sc ORDER BY score DESC, name_a, name_b LIMIT 20""".stripMargin,

    "q159_entity_resolution" ->
      """WITH nm AS (SELECT p_name, min(p_partkey) id,
        |              CAST(count(*) AS BIGINT) n_parts
        |            FROM part GROUP BY p_name),
        |blk AS (SELECT p_name, id, split_part(p_name, ' ', 2) noun FROM nm),
        |e0 AS (SELECT a.id ida, b.id idb FROM blk a JOIN blk b
        |       ON a.noun = b.noun AND a.id < b.id
        |       WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |edges AS (SELECT ida, idb FROM e0 UNION SELECT idb, ida FROM e0),
        |reach AS (
        |  WITH RECURSIVE r(id, m) AS (
        |    SELECT id, id FROM nm
        |    UNION
        |    SELECT e.idb, r.m FROM r JOIN edges e ON e.ida = r.id)
        |  SELECT id, min(m) lbl FROM r GROUP BY id),
        |ent AS (SELECT r.id, n2.p_name entity
        |        FROM reach r JOIN nm n2 ON n2.id = r.lbl),
        |tot AS (SELECT entity, CAST(count(*) AS BIGINT) n_names,
        |          CAST(sum(n_parts) AS BIGINT) entity_parts
        |        FROM ent JOIN nm ON nm.id = ent.id GROUP BY 1)
        |SELECT nm.p_name, ent.entity, nm.n_parts, tot.n_names, tot.entity_parts
        |FROM nm JOIN ent ON ent.id = nm.id JOIN tot ON tot.entity = ent.entity
        |ORDER BY nm.p_name""".stripMargin,

    "q104_cms_heavy_hitters" ->
      s"""${ExtQueries.tokCte},
         |p AS (SELECT doc_id, unnest(t) token FROM tok),
         |tc AS (SELECT token, CAST(count(*) AS BIGINT) cnt FROM p GROUP BY 1),
         |hx AS (SELECT token, cnt, j,
         |    ('0x' || substr(md5(token || '#' || j), 1, 8))::BIGINT % 512 bucket
         |  FROM tc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) j)),
         |cms AS (SELECT j, bucket, CAST(sum(cnt) AS BIGINT) bucket_sum
         |        FROM hx GROUP BY 1, 2),
         |top AS (SELECT token, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) rank
         |  FROM tc QUALIFY rank <= 20),
         |est AS (SELECT rank, t.token, t.cnt, min(bucket_sum) cms_est
         |  FROM top t JOIN hx ON t.token = hx.token
         |  JOIN cms ON hx.j = cms.j AND hx.bucket = cms.bucket
         |  GROUP BY 1, 2, 3)
         |SELECT rank, token, cnt AS freq, cms_est, cms_est - cnt AS overcount
         |FROM est ORDER BY rank""".stripMargin,

    "q103_fk_audit" ->
      """SELECT 'events.user_id->customer' AS relationship,
        |  (SELECT count(*) FROM events) AS n_rows,
        |  (SELECT count(DISTINCT user_id) FROM events) AS n_keys,
        |  (SELECT count(*) FROM events e LEFT JOIN customer c
        |     ON e.user_id = c.c_custkey WHERE c.c_custkey IS NULL) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(DISTINCT l_suppkey) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
        |     ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(DISTINCT o_custkey) FROM orders),
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |ORDER BY relationship""".stripMargin,

    "q98_scd2_customer" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(o_orderdate AS TIMESTAMP) od, o_orderpriority
        |  FROM orders WHERE o_custkey < 300)
        |SELECT o_custkey AS custkey,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  o_orderpriority AS priority,
        |  od AS valid_from,
        |  COALESCE(lead(od) OVER w, TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
        |  (lead(od) OVER w IS NULL) AS is_current
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
        |ORDER BY 1, 2""".stripMargin,

    // q269 oracle: the oracle MAY sort globally (DuckDB, oracle-sized
    // data) — rank k picked straight off a row_number over the full
    // value order; identical type-1 rank rule.
    "q269_global_quantiles" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) c
        |           FROM lineitem),
        |cn AS (SELECT count(*) n FROM v),
        |p AS (SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) p),
        |k AS (SELECT p, ((n - 1) * p) // 100 + 1 k FROM p CROSS JOIN cn),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) rn FROM v)
        |SELECT p, CAST(k.k AS BIGINT) AS k, r.c AS value_cents
        |FROM k JOIN r ON r.rn = k.k ORDER BY p""".stripMargin,

    "q271_conformal_coverage" ->
      """WITH c AS (SELECT source, doc_id, n_chars FROM documents
        |           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |             BETWEEN '0' AND '7'),
        |p AS (SELECT source, count(*) n_calib,
        |        sum(n_chars) // count(*) pred
        |      FROM c GROUP BY 1),
        |cr AS (SELECT c.source, p.n_calib, abs(c.n_chars - p.pred) r,
        |         c.doc_id
        |       FROM c JOIN p ON c.source = p.source),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |         ORDER BY r, doc_id) rn FROM cr),
        |qh AS (SELECT source, n_calib, r qhat FROM rk
        |       WHERE rn = least(((n_calib + 1) * 9 + 9) // 10, n_calib)),
        |t AS (SELECT source, doc_id, n_chars FROM documents
        |      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |        NOT BETWEEN '0' AND '7')
        |SELECT t.source AS source, CAST(qh.n_calib AS BIGINT) AS n_calib,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(qh.qhat AS BIGINT) AS qhat,
        |  CAST(sum(CASE WHEN abs(t.n_chars - p.pred) <= qh.qhat
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST((1000000 * sum(CASE WHEN abs(t.n_chars - p.pred) <= qh.qhat
        |    THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS coverage_ppm
        |FROM t JOIN p ON t.source = p.source
        |JOIN qh ON t.source = qh.source
        |GROUP BY 1, 2, 4 ORDER BY 1""".stripMargin
  )
}
