package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline
  * surface (BASELINE.json north star; no counterpart in the reference —
  * the closest is its Spanish FTS, SURVEY.md §2.8 F17).
  *
  * Every function is a pure column expression (whole-stage codegen, no
  * UDFs, no shuffle): at 100 TB these run map-side at scan speed.
  */
object TextAnalysis {

  /** Lowercase + strip non-alphanumerics. TESTDATA documents are already
    * `[a-z0-9 ]` but arbitrary corpora aren't. */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", " ")

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** THE JVM twin of [[normalize]] — the single source of the
    * parity-critical normalization contract every typed hot path
    * (shingleRows, withTokenProfile, rollingHashFingerprint) shares with
    * the SQL/oracle side. Locale.ROOT: default-locale lowercasing (e.g.
    * tr-TR dotless ı) would diverge from SQL `lower()`. */
  def normalizeJvm(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9 ]", " ")

  /** JVM twin of [[tokens]] over a normalized string. */
  def tokenizeJvm(norm: String): Array[String] =
    norm.split(" ").filter(_.nonEmpty)

  /** Stopword-list hit count for one language. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Order = detection priority. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "to", "and", "in", "that"),
    "es" -> Seq("el", "la", "los", "las", "una", "para", "por", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "nicht"),
    "fr" -> Seq("le", "les", "une", "est", "pour", "dans", "sur", "avec"))

  /** The English list by NAME — consumers (gopherFlags, its oracle and
    * specs) must not couple to [[langStopwords]]'s Seq ordering. */
  val enStopwords: Seq[String] = langStopwords.toMap.apply("en")

  /** Language-ID: argmax of stopword hits, priority order on ties, `und`
    * when nothing matches. Adds `s_<lang>` score columns + `lang_detected`. */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(normalize(col(textCol)))
    val scored = langStopwords.foldLeft(df) { case (d, (l, sw)) =>
      d.withColumn(s"s_$l", stopwordHits(toks, sw))
    }
    val langs = langStopwords.map(_._1)
    val detected = langs.zipWithIndex.foldRight(lit("und")) { case ((l, i), els) =>
      val beats = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")) :+
        (col(s"s_$l") > 0)
      val wins = langs.take(i).map(o => col(s"s_$l") > col(s"s_$o")) ++ beats
      when(wins.reduce(_ && _), lit(l)).otherwise(els)
    }
    scored.withColumn("lang_detected", detected)
  }

  /** Integer-exact quality scoring: lexical diversity minus stopword
    * density, in percent. Integer division keeps Spark and any SQL oracle
    * bit-identical (no float/decimal division divergence). */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(normalize(col(textCol)))
    val allStops = langStopwords.flatMap(_._2)
    df.withColumn("n_tokens", size(toks))
      .withColumn("n_uniq", size(array_distinct(toks)))
      .withColumn("n_stop", stopwordHits(toks, allStops))
      .withColumn("quality",
        when(col("n_tokens") > 0,
          expr("(100 * n_uniq) div n_tokens - (50 * n_stop) div n_tokens"))
          .otherwise(lit(0L)))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    * public repetition-free subset — the corpus has no line structure, so
    * the line-based rules are a documented divergence): word-count
    * bounds, mean-word-length bounds, alphabetic-word ratio, and
    * stopword presence, each as a boolean flag plus the AND of all four.
    *
    * Integer-exact: every ratio threshold is cross-multiplied
    * (`len_sum >= 3 * n_words` instead of `len_sum / n_words >= 3`), so
    * any SQL engine reproduces the same booleans bit-for-bit. Pure column
    * algebra — map-side, codegen, no shuffle.
    *
    * NULL text: the count stats are null, but `pass_gopher` is FALSE,
    * not null — `n_stop_present`'s `otherwise(0)` makes `flag_stop`
    * false and `null AND false = false` — so a null document can never
    * pass the gate (AnalyticsSpec-pinned). */
  def gopherFlags(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(normalize(col(textCol)))
    val enStops = enStopwords
    addGopherFlagCols(
      df.withColumn("n_words", size(toks).cast("bigint"))
        .withColumn("len_sum",
          aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("bigint")))
        .withColumn("n_alpha",
          size(filter(toks, t => t.rlike("[a-z]"))).cast("bigint"))
        .withColumn("n_stop_present",
          enStops.map(w => when(array_contains(toks, w), 1L).otherwise(0L))
            .reduce(_ + _)))
  }

  /** [[gopherFlags]] derived from the one-pass token profile
    * ([[withTokenProfile]]'s g_* columns) instead of re-walking the text
    * with interpreted array HOFs — identical outputs (spec-pinned), at
    * profile-read speed when the profile is a shared artifact. */
  def gopherFlagsFromProfile(profile: DataFrame): DataFrame =
    addGopherFlagCols(
      profile.withColumn("n_words", col("n_tokens").cast("bigint"))
        .withColumn("len_sum", col("g_len_sum"))
        .withColumn("n_alpha", col("g_n_alpha"))
        .withColumn("n_stop_present", col("g_stop_present")))

  /** The Rae et al. 2021 rule thresholds over (n_words, len_sum,
    * n_alpha, n_stop_present) — shared by both input forms. */
  private def addGopherFlagCols(df: DataFrame): DataFrame =
    df.withColumn("flag_word_count",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("flag_mean_len",
        col("len_sum") >= lit(3L) * col("n_words") &&
          col("len_sum") <= lit(10L) * col("n_words"))
      .withColumn("flag_alpha", lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
      .withColumn("flag_stop", col("n_stop_present") >= 2L)
      .withColumn("pass_gopher",
        col("flag_word_count") && col("flag_mean_len") &&
          col("flag_alpha") && col("flag_stop"))

  /** Canonical document fingerprint: md5 over the sorted distinct token
    * set — robust to word order, engine-portable. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(normalize(text)))), " ").cast("binary"))

  /** One typed pass computing every per-doc token statistic — the hot-path
    * twin of [[withLangId]]/[[withQuality]]/[[fingerprint]] (identical
    * values, StrategyEquivalenceSpec-checked). The column-expression forms
    * run on Spark's INTERPRETED higher-order-function path (~320 µs/doc
    * at sf0.1 — the corpus bottleneck at 100 TB); this runs the whole
    * profile in one codegen-bounded JVM loop at scan speed, appending the
    * stat columns to every input row (no join, no shuffle). Normalization
    * contract matches [[normalize]]/[[tokens]] (Locale.ROOT; tokens are
    * `[a-z0-9]+` post-normalize, so JVM and UTF8-binary sort orders
    * agree). */
  def withTokenProfile(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val textIdx = df.schema.fieldIndex(textCol)
    val langNames = langStopwords.map(_._1)
    val langSets = langStopwords.map(_._2.toSet)
    val allStops = langStopwords.flatMap(_._2).toSet
    val enStopsForGopher = enStopwords
    val outSchema = langNames.foldLeft(
        df.schema
          .add("n_tokens", IntegerType).add("n_uniq", IntegerType)
          .add("n_stop", IntegerType)) { (s, l) => s.add(s"s_$l", IntegerType) }
      .add("lang_detected", StringType)
      .add("quality", LongType)
      .add("n_subword", IntegerType)
      .add("n_chars_norm", IntegerType)
      .add("fingerprint", StringType)
      .add("g_len_sum", LongType)
      .add("g_n_alpha", LongType)
      .add("g_stop_present", LongType)
    val subword = java.util.regex.Pattern.compile("[a-z]+|[0-9]+")
    // NULL text must reproduce the column twins' null algebra, not crash:
    // size/filter/length of NULL are NULL; lang detection's NULL
    // conditions fall through every branch to 'und'; quality's
    // when(NULL > 0) takes the otherwise(0) branch; md5(NULL) is NULL.
    // The gopher tails mirror the HOF twins' null algebra exactly:
    // aggregate/size over a NULL array are NULL, but the stop-presence
    // SUM of when(array_contains(NULL,w),1).otherwise(0) terms is 0.
    val nullStats: Seq[Any] =
      Seq(null, null, null) ++ langNames.map(_ => null) ++
        Seq("und", 0L, null, null, null, null, null, 0L)
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val text = if (r.isNullAt(textIdx)) null else r.getString(textIdx)
        if (text == null) Row.fromSeq(r.toSeq ++ nullStats)
        else {
        val norm = normalizeJvm(text)
        val toks = tokenizeJvm(norm)
        val nTokens = toks.length
        val nUniq = toks.distinct.length
        val nStop = toks.count(allStops.contains)
        val scores = langSets.map(set => toks.count(set.contains)).toArray
        val detected = langNames.indices.collectFirst {
          case i if scores(i) > 0 &&
            (0 until i).forall(e => scores(i) > scores(e)) &&
            (i + 1 until langNames.size).forall(l => scores(i) >= scores(l)) =>
            langNames(i)
        }.getOrElse("und")
        val quality =
          if (nTokens > 0) 100L * nUniq / nTokens - 50L * nStop / nTokens else 0L
        val m = subword.matcher(norm)
        var nSub = 0
        while (m.find()) nSub += 1
        md.reset()
        val fp = md.digest(toks.distinct.sorted.mkString(" ")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        var lenSum = 0L; var nAlpha = 0L
        var ti = 0
        while (ti < toks.length) {
          val t = toks(ti)
          lenSum += t.length
          var ci = 0; var hasAlpha = false
          while (ci < t.length && !hasAlpha) {
            val ch = t.charAt(ci)
            if (ch >= 'a' && ch <= 'z') hasAlpha = true
            ci += 1
          }
          if (hasAlpha) nAlpha += 1
          ti += 1
        }
        val tokSet = toks.toSet
        val stopPresent = enStopsForGopher.count(tokSet.contains).toLong
        Row.fromSeq(r.toSeq ++ (Seq(nTokens, nUniq, nStop) ++
          scores.toSeq ++ Seq(detected, quality, nSub, norm.length, fp,
            lenSum, nAlpha, stopPresent)))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Spanish accent fold (á é í ó ú ü ñ → ascii, both cases) — the same
    * fold the member-search surface applies (ops.MemberOps), here applied
    * BEFORE tokenization so accented words index under their folded form.
    * DuckDB twin: `translate(x, 'áéíóúüñÁÉÍÓÚÜÑ', 'aeiouunAEIOUUN')`. */
  val accentFrom = "áéíóúüñÁÉÍÓÚÜÑ"
  val accentTo = "aeiouunAEIOUUN"
  def foldAccents(text: Column): Column = translate(text, accentFrom, accentTo)

  /** JVM-side twin of [[foldAccents]] for folding query needles. */
  def foldAccentsJvm(s: String): String =
    s.map(c => accentFrom.indexOf(c.toInt) match {
      case -1 => c
      case i  => accentTo.charAt(i)
    })

  /** F17 scale path: the inverted-index postings table (term → doc), the
    * Spark twin of the reference's Spanish `to_tsvector` GIN index
    * (`database/migrations/001_initial_schema.sql:87-88,128-129`) —
    * accent-folded like the reference's search surface. One row per
    * DISTINCT term per doc; at 100 TB this is written bucketed by `term`
    * so every term lookup is a partition-pruned scan instead of a corpus
    * scan. For the stemmed (lexeme-level) variant the reference's
    * tsvector actually stores, see [[stemmedPostings]]. */
  def invertedPostings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(array_distinct(tokens(normalize(foldAccents(col(textCol)))))).as("term"))

  /** Candidate-AND term search over a postings table: docs containing ALL
    * query terms (case/accent-insensitive). A term-list equi-lookup +
    * count aggregation — the standard inverted-index conjunctive query;
    * never scans documents the terms don't reach.
    *
    * Needles go through the SAME fold+normalize+tokenize pipeline as the
    * postings (like `plainto_tsquery` on the reference side): a
    * punctuated or multi-word needle ("canción!", "data base") resolves
    * to its token terms instead of silently matching nothing. An empty
    * term set is the vacuous conjunction — every posted doc matches. */
  def searchAllTerms(postings: DataFrame, terms: Seq[String]): DataFrame = {
    val distinctTerms = terms
      .flatMap(t => tokenizeJvm(normalizeJvm(foldAccentsJvm(t)))).distinct
    if (distinctTerms.isEmpty)
      postings.select(col("doc_id")).distinct()
    else
      postings.where(col("term").isin(distinctTerms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit"))
        .where(col("n_hit") === distinctTerms.size)
        .select(col("doc_id"))
  }

  /** Exact-phrase search over POSITIONAL postings `(doc, pos, token)`
    * ([[tokenPosRows]] grain — the phrase half of a positional inverted
    * index): each phrase word contributes a term-filtered leg shifted to
    * its candidate start position (`pos − i`); intersecting the legs on
    * `(doc, start)` leaves exactly the starts where all words line up
    * consecutively. Returns `(doc, n_hits)` for docs with ≥1 occurrence.
    *
    * 100 TB shape: the term predicate prunes each leg BEFORE any
    * shuffle — with postings stored term-bucketed (the q49 GIN-layout
    * contract) a phrase probe reads only its own words' posting lists,
    * never the corpus; the leg join keys on (doc, start), output-sized.
    * Repeated words work: each leg is the same list at a different
    * offset. */
  def phraseHits(posPostings: DataFrame, phrase: Seq[String]): DataFrame = {
    val words = phrase.flatMap(w => tokenizeJvm(normalizeJvm(w)))
    require(words.nonEmpty, "empty phrase")
    val legs = words.zipWithIndex.map { case (w, i) =>
      posPostings.where(col("token") === w)
        .select(col("doc"), (col("pos") - i).as("start"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc", "start")))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_hits"))
  }

  /** Spanish-preserving normalize: lowercase, keep a-z, 0-9 and the
    * stemmer's alphabet á é í ó ú ü ñ (plain [[normalize]] would strip
    * the accented letters the stemmer's region arithmetic needs). DuckDB
    * twin: `regexp_replace(lower(x), '[^a-z0-9áéíóúüñ ]', ' ', 'g')`. */
  def normalizeEs(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9áéíóúüñ ]", " ")

  /** JVM twin of [[normalizeEs]]. */
  def normalizeEsJvm(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9áéíóúüñ ]", " ")

  /** F17 stemmed postings — the lexeme table a `to_tsvector('spanish')`
    * GIN index stores (reference:
    * `database/migrations/001_initial_schema.sql:87-88`): one row per
    * distinct surface term per doc with its Snowball-Spanish stem
    * ([[SpanishStemmer]]). A typed flatMap at scan speed (no shuffle);
    * bucketed by `stem` at real scale like [[invertedPostings]]. */
  def stemmedPostings(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL id/text rows emit nothing (the chunkWindows contract) — and
    // the null-id filter must come BEFORE the primitive-Long decode,
    // which would otherwise throw on a null field.
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        tokenizeJvm(normalizeEsJvm(text))
          .distinct.map(t => (id, t, SpanishStemmer.stem(t)))
      }.toDF("doc_id", "term", "stem")
  }

  /** Conjunctive search over [[stemmedPostings]]: docs whose stems cover
    * ALL the needles' stems — `plainto_tsquery('spanish', ...)` semantics:
    * the needle "tables" finds docs containing "table" because both stem
    * to "tabl". Needles go through the same normalize+tokenize+stem
    * pipeline as the index (stemmed exactly ONCE — Snowball is not
    * idempotent, so double-stemming a needle would miss). */
  def searchAllStems(postings: DataFrame, needles: Seq[String]): DataFrame = {
    val stems = needles
      .flatMap(t => tokenizeJvm(normalizeEsJvm(t)))
      .map(SpanishStemmer.stem).distinct
    if (stems.isEmpty)
      postings.select(col("doc_id")).distinct()
    else
      postings.where(col("stem").isin(stems: _*))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("stem")).as("n_hit"))
        .where(col("n_hit") === stems.size)
        .select(col("doc_id"))
  }

  /** Fixed-size token windows with stride — the chunking stage that
    * splits long documents into training-sequence-sized pieces
    * (overlapping when stride < window, the standard LM data-prep
    * shape). One typed pass at scan speed (the shingleRows pattern);
    * emits the chunk's md5 + counters, not the duplicated text, so the
    * output stays doc-count-×-chunks narrow. Rows with NULL id/text or
    * zero tokens produce no chunks. */
  /** Per-chunk language ID over NON-overlapping `window`-token blocks —
    * the code-switching / mixed-language QC signal (a doc whose chunks
    * disagree on language is template spam, concatenation junk, or
    * genuine code-switching; all three need flagging before training).
    * One row per non-empty chunk: `(doc, chunk_idx, chunk_lang)`, with
    * EXACTLY [[withLangId]]'s detection rule per chunk — the first
    * priority-order language achieving the positive maximum stopword-hit
    * count, else `und`. Typed flatMap at scan speed; the per-chunk
    * argmax is O(|langs|) JVM work. */
  def chunkLangRows(df: DataFrame, textCol: String, idCol: String,
                    window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val lists = langStopwords.map { case (l, sw) => (l, sw.toSet) }
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = tokenizeJvm(normalizeJvm(text))
          toks.grouped(window).zipWithIndex.map { case (chunk, i) =>
            val scores = lists.map { case (_, sw) => chunk.count(sw) }
            val m = scores.max
            val lang = if (m == 0) "und" else lists(scores.indexOf(m))._1
            (doc, i, lang)
          }
        }
      }
      .toDF("doc", "chunk_idx", "chunk_lang")
  }

  def chunkWindows(df: DataFrame, textCol: String, idCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = new StructType()
      .add("doc_id", LongType).add("chunk_idx", IntegerType)
      .add("start_tok", IntegerType).add("n_chunk_tokens", IntegerType)
      .add("chunk_hash", StringType)
    val textIdx = df.schema.fieldIndex(textCol)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        if (r.isNullAt(idIdx) || r.isNullAt(textIdx)) Iterator.empty
        else {
          val doc = r.get(idIdx).asInstanceOf[Number].longValue()
          val toks = tokenizeJvm(normalizeJvm(r.getString(textIdx)))
          val n = toks.length
          (0 until n by stride).iterator.map { start =>
            val chunk = toks.slice(start, math.min(start + window, n))
            md.reset()
            val h = md.digest(chunk.mkString(" ")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            Row(doc, start / stride, start, chunk.length, h)
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models" §A1.1 quality heuristics): the fraction
    * of bigrams that are duplicates and the share of the single most
    * frequent bigram, both in integer-exact ppm. High values mark
    * boilerplate/spam for the quality filter. One typed pass, no
    * shuffle; docs with fewer than 2 tokens emit nothing. */
  def repetitionProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = new StructType()
      .add("doc_id", LongType).add("n_bigrams", LongType)
      .add("n_distinct_bigrams", LongType)
      .add("dup_ppm", LongType).add("top_ppm", LongType)
    val textIdx = df.schema.fieldIndex(textCol)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(idIdx) || r.isNullAt(textIdx)) Iterator.empty
        else {
          val doc = r.get(idIdx).asInstanceOf[Number].longValue()
          val toks = tokenizeJvm(normalizeJvm(r.getString(textIdx)))
          if (toks.length < 2) Iterator.empty
          else {
            val counts = new java.util.HashMap[String, Long]()
            var i = 0
            while (i < toks.length - 1) {
              counts.merge(toks(i) + " " + toks(i + 1), 1L, _ + _)
              i += 1
            }
            val n = (toks.length - 1).toLong
            val distinct = counts.size.toLong
            var mx = 0L
            counts.values.forEach(v => if (v > mx) mx = v)
            Iterator(Row(doc, n, distinct,
              1000000L * (n - distinct) / n, 1000000L * mx / n))
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Token-run collapse (the word-grain elongation/spam normalization
    * step of web-text cleaning): runs of the SAME token longer than
    * `maxRun` are truncated to `maxRun`, keeping the run's first
    * occurrences ("go go go go x" -> "go go x"). The keep rule is
    * position-local — token i survives unless the `maxRun` ORIGINAL
    * predecessors all equal it — so the rewrite is one typed pass at
    * scan speed, zero shuffle, and a SQL oracle states the identical
    * rule with lag() windows. Output (doc_id, n_tokens, n_removed,
    * text_clean); docs with no tokens (or null text/id) emit nothing.
    * Distinct from [[repetitionProfile]] (which MEASURES repetition):
    * this is the transform that removes it. */
  def collapseTokenRuns(df: DataFrame, textCol: String, idCol: String,
                        maxRun: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = new StructType()
      .add("doc_id", LongType).add("n_tokens", LongType)
      .add("n_removed", LongType).add("text_clean", StringType)
    val textIdx = df.schema.fieldIndex(textCol)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(idIdx) || r.isNullAt(textIdx)) Iterator.empty
        else {
          val doc = r.get(idIdx).asInstanceOf[Number].longValue()
          val toks = tokenizeJvm(normalizeJvm(r.getString(textIdx)))
          if (toks.isEmpty) Iterator.empty
          else {
            val kept = new scala.collection.mutable.ArrayBuffer[String](toks.length)
            var removed = 0L
            var run = 0
            var i = 0
            while (i < toks.length) {
              if (i > 0 && toks(i) == toks(i - 1)) run += 1 else run = 1
              if (run <= maxRun) kept += toks(i) else removed += 1
              i += 1
            }
            Iterator(Row(doc, toks.length.toLong, removed, kept.mkString(" ")))
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** PII patterns for [[withPiiRedaction]]. Kept to the regex subset
    * that Java regex and RE2 (DuckDB/Go engines) evaluate identically:
    * character classes + bounded/unbounded repetition, no lookaround, no
    * backreferences — so the oracle can reproduce counts and redactions
    * exactly. */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val digitRunRe = "[0-9]{7,}"

  /** PII scrubbing pass (the safety-filter stage of a training-data
    * pipeline): redact emails, IPv4 literals, and long digit runs
    * (phone/account-number shaped) with typed placeholders, emitting the
    * match counts and the md5 of the redacted text.
    *
    * Redaction is SEQUENTIAL — email, then IPv4, then digit runs — and
    * each count is measured on the text as it stood when that pattern
    * ran, so an IPv4 inside an already-redacted email is neither counted
    * nor double-redacted (and IPv4 octets, max 3 digits, can never
    * retrigger the 7+-digit-run rule).
    *
    * Pure column expressions: map-side, codegen'd, zero shuffle — scan
    * speed at any corpus size. */
  def withPiiRedaction(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, digitRunRe, "<NUM>")
    df.withColumn("n_email", regexp_count(t0, lit(emailRe)).cast("int"))
      .withColumn("n_ipv4", regexp_count(t1, lit(ipv4Re)).cast("int"))
      .withColumn("n_digit_run", regexp_count(t2, lit(digitRunRe)).cast("int"))
      .withColumn("redacted_hash", md5(t3.cast("binary")))
  }

  /** (doc, token) rows — every occurrence, NOT distinct (the frequency
    * twin of [[Dedup.shingleRows]] at n=1): one typed flatMap at scan
    * speed, same normalization contract as [[normalize]]/[[tokens]].
    * NULL ids/texts emit nothing. */
  def tokenRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.ops.Fanout.byKey(
      df.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("doc"), col(textCol).as("text")),
      col("doc"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else tokenizeJvm(normalizeJvm(text)).iterator.map((doc, _))
      }
      .toDF("doc", "token")
  }

  /** [[tokenRows]] WITH 1-based positions — `(doc, pos, token)`, the
    * addressable form a span-rewrite (or any positional op) joins
    * against. Same normalization contract; same NULL contract. */
  def tokenPosRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.ops.Fanout.byKey(
      df.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("doc"), col(textCol).as("text")),
      col("doc"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else tokenizeJvm(normalizeJvm(text)).iterator.zipWithIndex
          .map { case (t, i) => (doc, i + 1L, t) }
      }
      .toDF("doc", "pos", "token")
  }

  /** Proximity (slop) search over the positional postings — the tsquery
    * `a <-> b` generalized to `a <N> b` / Lucene PhraseQuery-with-slop:
    * per doc, ordered occurrence pairs of the two terms at token
    * distance 1..`slop`, counted with the tightest gap kept. Like
    * [[phraseHits]] the probe touches ONLY the two terms' posting
    * lists (term-pruned legs), never the corpus; the per-doc pair
    * expansion is bounded by the terms' within-doc frequencies. */
  def proximityHits(posPostings: DataFrame, termA: String, termB: String,
                    slop: Int): DataFrame = {
    require(slop >= 1, "slop must be >= 1")
    val a = posPostings.where(col("token") === termA)
      .select(col("doc"), col("pos").cast("long").as("pa"))
    val b = posPostings.where(col("token") === termB)
      .select(col("doc"), col("pos").cast("long").as("pb"))
    a.join(b, Seq("doc"))
      .where(col("pb") > col("pa") && col("pb") - col("pa") <= slop)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"), min(col("pb") - col("pa")).as("min_gap"))
  }

  /** Corpus vocabulary head: the k most frequent tokens with total
    * occurrence count and document frequency — the Zipf-head inspection
    * every corpus audit starts with (and the stopword/boilerplate
    * candidate list for the quality filters).
    *
    * Deterministic total order: frequency desc, then token asc.
    *
    * 100 TB shape: one map-side-combined groupBy on the token (doc
    * frequency via distinct (token, doc) pre-aggregation, not a
    * memory-unbounded countDistinct buffer), then TakeOrdered(k) — the
    * full vocabulary is never sorted and never leaves the executors;
    * only the k head rows reach the driver-side limit. The final
    * row_number window runs on exactly k rows. */
  def vocabTopK(df: DataFrame, textCol: String, idCol: String,
                k: Int): DataFrame = {
    // Both aggregations read the token rows; persist so the full-corpus
    // tokenize pass runs once (TransientCache: released by the runner).
    val toks = graft.ops.TransientCache.persist(tokenRows(df, textCol, idCol))
    vocabTopKFromStats(
      toks.groupBy(col("token")).agg(count(lit(1)).as("freq")),
      toks.select(col("token"), col("doc")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("doc_freq")), k)
  }

  /** [[vocabTopK]] over prebuilt (token, freq) / (token, doc_freq)
    * aggregates — the form the session-shared vocabulary artifacts feed
    * (share aggregates, never the raw stream). */
  def vocabTopKFromStats(freq: DataFrame, docFreq: DataFrame,
                         k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = freq.join(docFreq, "token")
      .orderBy(col("freq").desc, col("token"))
      .limit(k)
    head.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))))
      .select(col("rank"), col("token"), col("freq"), col("doc_freq"))
  }

  /** Adjacent token-pair frequency head — the first merge-candidate table
    * of a BPE-style tokenizer build (Sennrich et al. 2016: each merge
    * round picks the most frequent adjacent pair; this is one round's
    * statistics over word-level tokens). Every occurrence counts, pairs
    * do not cross document boundaries.
    *
    * Deterministic total order: count desc, then (tok_a, tok_b) asc.
    *
    * 100 TB shape: same as [[vocabTopK]] — one typed scan-speed flatMap
    * (pairs never materialize the document twice; each row is two small
    * strings), one map-side-combined groupBy on the pair, TakeOrdered(k);
    * the pair vocabulary never leaves the executors. */
  def tokenPairTopK(df: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame =
    tokenPairTopKFromCounts(tokenPairCounts(df, textCol, idCol), k)

  /** [[tokenPairTopK]] over a prebuilt (tok_a, tok_b, n) count table —
    * the session-shared-artifact form (share aggregates, never the raw
    * pair stream). */
  def tokenPairTopKFromCounts(counts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = counts
      .orderBy(col("n").desc, col("tok_a"), col("tok_b"))
      .limit(k)
    head.withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("tok_a"), col("tok_b"))).cast("int"))
      .select(col("rank"), col("tok_a"), col("tok_b"), col("n"))
  }

  /** Full adjacent token-pair count table (tok_a, tok_b, n) — the
    * [[tokenPairTopK]] aggregate without the head cut, for consumers that
    * need every pair's frequency (PMI collocations, merge scheduling).
    * One typed scan-speed flatMap + one map-side-combined groupBy. */
  def tokenPairCounts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    tokenPairCountsFromPairs(tokenPairRows(df, textCol, idCol))

  /** [[tokenPairCounts]] over a prebuilt pair stream. */
  def tokenPairCountsFromPairs(pairRows: DataFrame): DataFrame =
    pairRows.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n"))

  /** Document-level co-occurring token pairs (tok_a < tok_b, one count
    * per document containing both) — 2-itemset frequency mining, the
    * first lattice level of the market-basket/FP-growth family. Pairs
    * are emitted map-side from each doc's SORTED DISTINCT token set
    * (C(d,2) rows per doc, bounded by the per-doc vocabulary, never a
    * corpus self-join), then one map-side-combined groupBy. */
  def tokenCooccurrence(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        if (text == null) Iterator.empty
        else {
          val t = tokenizeJvm(normalizeJvm(text)).distinct.sorted
          for (i <- t.indices.iterator; j <- (i + 1 until t.length).iterator)
            yield (t(i), t(j))
        }
      }
      .toDF("tok_a", "tok_b")
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-occurrence adjacent token pairs WITH the document id
    * (doc, tok_a, tok_b) — the un-aggregated twin of [[tokenPairCounts]]
    * for per-document scoring (LM log-prob, per-doc collocation hits). */
  def tokenPairRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else {
          val t = tokenizeJvm(normalizeJvm(text))
          (0 until t.length - 1).iterator.map(i => (doc, t(i), t(i + 1)))
        }
      }
      .toDF("doc", "tok_a", "tok_b")
  }

  /** Characteristic terms per group: for every value of `groupCol`, the
    * k tokens with the highest tf·idf — "what words make this source /
    * domain different" (the per-domain audit next to [[vocabTopK]]'s
    * global head). idf = ln(n_docs / doc_freq); scores are
    * floor(1000·s)-quantized like BM25 (q55) so engines agree despite
    * ulp-level ln() differences.
    *
    * 100 TB shape: one token-keyed doc-frequency aggregate + one
    * (group, token)-keyed tf aggregate (both map-side combined), a
    * broadcast-sized corpus-stats join, and a rank window over the
    * per-group VOCABULARY (not the corpus). */
  def topTermsPerGroup(df: DataFrame, textCol: String, idCol: String,
                       groupCol: String, k: Int): DataFrame = {
    val toks = graft.ops.TransientCache.persist(
      tokenRows(df, textCol, idCol)
        .join(df.select(col(idCol).cast("long").as("doc"), col(groupCol)), "doc"))
    topTermsFromStats(
      toks.groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("tf")),
      toks.select(col("token"), col("doc")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("doc_freq")),
      df.where(col(idCol).isNotNull).select(col(idCol)).distinct().count(),
      groupCol, k)
  }

  /** [[topTermsPerGroup]] over prebuilt (group, token, tf) and
    * (token, doc_freq) aggregates — the session-shared-artifact form
    * (share aggregates, never the raw stream). */
  def topTermsFromStats(tf: DataFrame, docFreq: DataFrame,
                        nDocs: Long, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = tf.join(docFreq, "token")
      .withColumn("score_q",
        floor(lit(1000.0) * col("tf").cast("double") *
          log(lit(nDocs.toDouble) / col("doc_freq").cast("double")))
          .cast("long"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score_q").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("token"), col("tf"),
        col("doc_freq"), col("score_q"))
  }

  /** Integer-exact equi-width histogram of a non-negative integer column:
    * bucket i covers `[i·width, (i+1)·width)` with the last bucket
    * catching the overflow tail — pure integer division, so any engine
    * reproduces the bucketing bit-for-bit. One map-side-combined groupBy;
    * output is (groups × buckets)-sized. */
  def intHistogram(df: DataFrame, valCol: String, groupCol: String,
                   width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, "width and nBuckets must be positive")
    df.where(col(valCol).isNotNull)
      .withColumn("bucket",
        // clamp BOTH ends: negative values land in bucket 0 (truncating
        // div would otherwise emit bucket ids outside [0, nBuckets))
        greatest(lit(0L),
          least(lit(nBuckets - 1L), expr(s"$valCol div $width"))).cast("int"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valCol)).as("lo"), max(col(valCol)).as("hi"))
  }

  /** Content-defined chunking (the LBFS/rsync cut-point scheme,
    * Muthitacharoen et al. SOSP 2001, re-expressed for a corpus engine):
    * split the normalized text at every position whose Karp–Rabin
    * 5-gram hash ≡ 0 (mod 61), then fingerprint each variable-length
    * chunk with MD5. Unlike fixed-stride windows ([[chunkWindows]]), the
    * cut points move WITH the content — an insertion near the head
    * shifts boundaries only locally, so downstream dedup still matches
    * every unchanged tail chunk. The gram hash is the exact-BIGINT q47
    * formula (Σ ascii·31^j, no modulus), so a SQL oracle reproduces the
    * cuts bit-for-bit.
    *
    * Contract (mirrored by the q142 oracle): cuts are 1-based gram
    * positions i in [2, len-4] with g(i) % 61 == 0; a cut at i STARTS a
    * new chunk at i; docs whose normalization is empty emit nothing;
    * docs shorter than 5 chars are one whole-text chunk. One typed pass
    * per doc, zero shuffle, output sized in chunks. */
  def cdcChunkHashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        if (text == null) Iterator.empty
        else {
          val norm = normalizeJvm(text)
          val n = norm.length
          if (n == 0) Iterator.empty
          else {
            val md = java.security.MessageDigest.getInstance("MD5")
            val starts = scala.collection.mutable.ArrayBuffer(0)
            var j = 1 // 0-based cut candidates = 1..n-5 (1-based 2..len-4)
            while (j + 5 <= n) {
              var g = 0L; var p = 1L; var t = 0
              while (t < 5) { g += p * norm.charAt(j + t).toLong; p *= 31; t += 1 }
              if (g % 61 == 0) starts += j
              j += 1
            }
            starts += n
            (0 until starts.length - 1).iterator.map { c =>
              val chunk = norm.substring(starts(c), starts(c + 1))
              val h = md.digest(chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                .map("%02x".format(_)).mkString
              md.reset()
              (doc, h)
            }
          }
        }
      }
      .toDF("doc", "chunk_hash")
  }

  /** Karp–Rabin rolling-hash fingerprint over character 5-grams: per
    * position i, g(i) = Σ_j ascii(c_{i+j})·31^j (exact BIGINT — max
    * ~1.2e8, no modulus needed, so any engine reproduces it); the doc
    * fingerprint is (n_grams, min g, max g) — the 1-minhash of the gram
    * hash stream plus its range.
    *
    * Implemented as a typed map (the shingleRows pattern): one row in, one
    * row out, zero shuffle, the whole doc scanned once in a tight JVM
    * loop. The expression form — explode over positions + scalar gram —
    * duplicates the full `norm` string into every positional row, an
    * O(len²)-bytes pipeline that benched 8.5 s at sf0.1 vs <1 s here.
    * Normalization matches [[normalize]] exactly (Locale.ROOT, ASCII-only
    * output, so charAt == SQL ascii()). */
  def rollingHashFingerprint(df: DataFrame, textCol: String,
                             idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = 5
    df.select(col(idCol).cast("long").as("doc"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (doc, text) =>
        // NULL text drops the row — the column form's where(length >= 5)
        // on a NULL norm filtered it the same way.
        if (text == null) Iterator.empty
        else {
        val norm = normalizeJvm(text)
        val n = norm.length
        if (n < k) Iterator.empty
        else {
          var minH = Long.MaxValue
          var maxH = Long.MinValue
          var i = 0
          while (i + k <= n) {
            var g = 0L; var p = 1L; var j = 0
            while (j < k) { g += p * norm.charAt(i + j).toLong; p *= 31; j += 1 }
            if (g < minH) minH = g
            if (g > maxH) maxH = g
            i += 1
          }
          Iterator((doc, (n - k + 1).toLong, minH, maxH))
        }
        }
      }
      .toDF("doc", "n_grams", "min_hash", "max_hash")
  }
}
