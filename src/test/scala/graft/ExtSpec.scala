package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("shingles: distinct bigrams; empty below n tokens") {
    val df = Seq((0L, "a b c a b"), (1L, "solo"), (2L, "")).toDF("doc_id", "text")
    val got = Dedup.shingleRows(df, "text", "doc_id").collect()
      .groupBy(_.getLong(0)).map { case (doc, rs) => doc -> rs.map(_.getString(1)).toSeq.sorted }
    assert(got(0L) == Seq("a b", "b c", "c a"))
    assert(!got.contains(1L) && !got.contains(2L))
  }

  test("exact dedup groups partition the corpus") {
    val docs = Tables.documents(spark, sf)
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    assert(groups.agg(sum("n_docs")).as[Long].head() == docs.count())
  }


  test("cdc chunks: head insertion preserves the unchanged tail's chunk hashes") {
    // The property fixed-stride windows lack: prepending words shifts
    // every stride-aligned window, but content-defined cut points
    // re-synchronize, so the tail chunks hash identically.
    val base = (1 to 200).map(i => s"word$i stuff$i").mkString(" ")
    val shifted = "inserted preamble goes here " + base
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val chunks = TextAnalysis.cdcChunkHashes(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val h1 = chunks.filter(_._1 == 1L).map(_._2).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._2).toSet
    val common = h1.intersect(h2).size
    assert(common.toDouble / h1.size > 0.8,
      s"only $common/${h1.size} chunks survived a head insertion")
  }

  test("cdc chunks: concatenation of chunks reconstructs the norm; short docs are one chunk") {
    val df = Seq((1L, "Tiny."), (2L, ""), (3L, (1 to 50).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.cdcChunkHashes(df, "text", "doc_id").collect()
    assert(got.count(_.getLong(0) == 1L) == 1) // len<6 -> single chunk
    assert(!got.exists(_.getLong(0) == 2L))    // empty norm -> nothing
    assert(got.count(_.getLong(0) == 3L) >= 1)
  }

  test("prefix-filter join: lossless vs the plain gram-bucketed join, and it prunes") {
    // The AllPairs prefix lemma end-to-end: on the real sf0.001 corpus
    // the prefix-indexed path must recover EXACTLY the pairs the full
    // posting join finds (no false dismissals), its candidate set must
    // sit between the final pairs and the unpruned sharing-pair space,
    // and the pruning must be real (strictly fewer candidates).
    val sh = Dedup.shingleRows(Tables.documents(spark, sf), "text", "doc_id", 2)
      .cache()
    try {
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = pairSet(Dedup.ngramJaccardPairs(
        Tables.documents(spark, sf), "text", "doc_id", 2, 1, 2))
      // Every row of the PPJoin pair table is a prefix candidate.
      val candRows = Dedup.ppjoinCandidatePairs(Dedup.prefixPostings(sh, 1, 2), 1, 2)
        .select("doc_a", "doc_b")
      val pref = pairSet(Dedup.verifyJaccardCandidates(sh, candRows, 1, 2))
      assert(pref == full, s"prefix path lost/added pairs: " +
        s"missing=${(full -- pref).take(3)} extra=${(pref -- full).take(3)}")
      val cands = pairSet(candRows)
      val sharing = sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .distinct().count()
      assert(full.subsetOf(cands), "a qualifying pair escaped the candidates")
      assert(cands.size < sharing, "prefix filter pruned nothing")
    } finally sh.unpersist()
  }

  test("prefix-filter join at t=4/5: length filter stays lossless") {
    // The q202 production threshold. The new in-join length filter
    // (denJ*min(n) >= numJ*max(n)) prunes length-incompatible collisions
    // BEFORE the pair aggregate; it must never drop a J >= 4/5 pair.
    val sh = Dedup.shingleRows(Tables.documents(spark, sf), "text", "doc_id", 2)
      .cache()
    try {
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = pairSet(Dedup.ngramJaccardPairs(
        Tables.documents(spark, sf), "text", "doc_id", 2, 4, 5))
      val pref = pairSet(Dedup.verifyJaccardCandidates(sh,
        Dedup.ppjoinCandidatePairs(Dedup.prefixPostings(sh, 4, 5), 4, 5)
          .select("doc_a", "doc_b"), 4, 5))
      assert(pref == full, s"t=4/5 prefix path diverged: " +
        s"missing=${(full -- pref).take(3)} extra=${(pref -- full).take(3)}")
      assert(full.nonEmpty, "sf0.001 corpus lost its planted near-dups")
    } finally sh.unpersist()
  }

  test("leave-one-source-out residual fold equals n brute-force recomputes") {
    // The q205 identity: with per-(gram, source) posting counts, the
    // without-s duplicate-posting stats are sum(r) / sum(r>=2 ? r : 0)
    // over residuals r = df - cnt_s — one aggregate instead of n corpus
    // passes. Brute force here recomputes each leave-one-out corpus.
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "x y z w"), (2L, "a", "x y q r"),
      (3L, "b", "x y z w"),                      // dup of 1 across sources
      (4L, "c", "p q r s"), (5L, "c", "p q r s") // in-source dup pair
    ).toDF("doc_id", "source", "text")
    val sh = Dedup.shingleRows(docs, "text", "doc_id", 2)
      .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
      .cache()
    try {
      val cnt = sh.groupBy("s", "source").agg(count(lit(1)).as("cnt"))
      val dfg = cnt.groupBy("s").agg(sum("cnt").as("df"))
      val folded = dfg.crossJoin(docs.select("source").distinct())
        .join(cnt, Seq("s", "source"), "left")
        .withColumn("r", col("df") - coalesce(col("cnt"), lit(0L)))
        .groupBy("source")
        .agg(sum("r").as("posts"),
          sum(when(col("r") >= 2, col("r")).otherwise(0L)).as("dups"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val brute = Seq("a", "b", "c").map { src =>
        val rest = sh.filter(col("source") =!= src)
          .groupBy("s").agg(count(lit(1)).as("df"))
        val posts = rest.agg(sum("df")).as[Long].head()
        val dups = rest.filter(col("df") >= 2).agg(coalesce(sum("df"), lit(0L)))
          .as[Long].head()
        src -> (posts, dups)
      }.toMap
      assert(folded == brute, s"residual fold diverged: $folded vs $brute")
    } finally sh.unpersist()
  }

  test("sharedSpans: finds the planted maximal span with exact positions") {
    // Doc 1 and doc 2 share tokens 21..40 of doc 1 (= tokens 1..20 of
    // doc 2); windows of 10 chain into ONE maximal 20-token span.
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val d1 = (1 to 20).map(i => s"alpha$i").mkString(" ") + " " + shared
    val d2 = shared + " " + (1 to 20).map(i => s"omega$i").mkString(" ")
    val d3 = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = Dedup.sharedSpans(docs, "text", "doc_id",
      window = 10, minSpan = 15, maxPostings = 50).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L)
    assert(r.getAs[Long]("a_pos") == 21L && r.getAs[Long]("b_pos") == 1L)
    assert(r.getAs[Long]("span_tokens") == 20L)
    graft.ops.TransientCache.releaseAll()
  }

  test("ppjoin positional filter: lossless and strictly within the prefix candidates") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleRows(docs, "text", "doc_id", 2)
    try {
      // The pair table q202/q228 read: every row is a prefix candidate,
      // the pos_ok = 1 rows are the positional candidates.
      val pairs = Dedup.ppjoinCandidatePairs(Dedup.prefixPostings(sh, 4, 5), 4, 5)
      val positional = pairs.where(col("pos_ok") === 1).select("doc_a", "doc_b")
      val prefixC = pairs
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val posC = positional
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 4, 5)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(posC.subsetOf(prefixC), "positional filter must only remove")
      assert(truth.subsetOf(posC),
        s"positional filter dropped true pairs: ${truth -- posC}")
      // End to end: verifying the positional candidates reproduces the
      // exact join's pair set.
      val verified = Dedup.verifyJaccardCandidates(sh, positional, 4, 5)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(verified == truth)
    } finally graft.ops.TransientCache.releaseAll()
  }

  test("winnowing: matches a brute-force rightmost-min reference winnow") {
    // The packed-key window-min trick must reproduce the paper's robust
    // winnowing selection exactly: brute-force every w-window of gram
    // hashes on the driver, pick the min (rightmost on ties), dedupe.
    val text = (1 to 60).map(i => s"tok${i % 17}x$i").mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val gram = 4; val w = 8
    val got = Dedup.winnowingFingerprints(docs, "text", "doc_id", gram, w)
      .collect().map(r => (r.getAs[Long]("pos"), r.getAs[Long]("fph"))).toSet
    val toks = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(text))
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = (0 to toks.length - gram).map { i =>
      val b = md.digest(toks.slice(i, i + gram).mkString(" ").getBytes("UTF-8"))
      var v = 0L; (0 until 8).foreach(j => v = (v << 8) | (b(j) & 0xffL))
      (v >>> 4) % 2147483648L  // h60 reduced to 31 bits, as the operator does
    }
    val expect = scala.collection.mutable.Set[(Long, Long)]()
    for (end <- (w - 1) until hashes.length) {  // 0-based full windows
      val win = (end - w + 1) to end
      val minH = win.map(hashes).min
      val sel = win.filter(j => hashes(j) == minH).max  // rightmost tie
      expect += ((sel + 1L, hashes(sel)))               // 1-based pos
    }
    assert(got == expect.toSet,
      s"winnow selection diverged: got ${got.size}, expect ${expect.size}")
  }

  test("winnowing: any shared run >= w+gram-1 tokens shares a fingerprint") {
    // The paper's guarantee (t = w+k-1 noise threshold): an 11-token
    // shared run between otherwise-disjoint docs must collide on at
    // least one selected fingerprint.
    val shared = (1 to 11).map(i => s"common$i").mkString(" ")
    val d1 = (1 to 30).map(i => s"alpha$i").mkString(" ") + " " + shared
    val d2 = shared + " " + (1 to 30).map(i => s"omega$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val fp = Dedup.winnowingFingerprints(docs, "text", "doc_id", 4, 8)
    val byDoc = fp.collect().groupBy(_.getAs[Long]("doc"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("fph")).toSet }
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "guaranteed fingerprint collision missing")
    // Density stays bounded: selections never exceed full windows.
    val toks1 = TextAnalysis.tokenizeJvm(TextAnalysis.normalizeJvm(d1)).length
    assert(byDoc(1L).size <= toks1 - 4 - 8 + 2)
  }

  test("sharedSpans: sub-minSpan overlaps and over-cap boilerplate are dropped") {
    val short = (1 to 12).map(i => s"s$i").mkString(" ")   // 12 < minSpan 15
    val d1 = short + " " + (1 to 10).map(i => s"a$i").mkString(" ")
    val d2 = short + " " + (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    assert(Dedup.sharedSpans(docs, "text", "doc_id", 10, 15, 50).count() == 0)
    // Same span but boilerplate-capped at maxPostings=1: no pairs at all.
    val long = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs2 = Seq((1L, long), (2L, long)).toDF("doc_id", "text")
    assert(Dedup.sharedSpans(docs2, "text", "doc_id", 10, 15, 1).count() == 0)
    graft.ops.TransientCache.releaseAll()
  }


  test("sharedSpansChunked: a shared footer clusters footer chunks only — bodies stay unchained") {
    // The corpus-scale q136 failure mode, miniaturized: doc 1 and doc 2
    // share only a boilerplate footer; doc 2 and doc 3 share only a body.
    // Doc-grain components chain all three into ONE family; chunk-grain
    // components must keep footer-chunk and body-chunk families apart
    // and leave doc 1's body in no family at all.
    val footer = (1 to 20).map(i => s"foot$i").mkString(" ")
    val bodyA = (1 to 32).map(i => s"alpha$i").mkString(" ")
    val bodyB = (1 to 32).map(i => s"beta$i").mkString(" ")
    val tail = (1 to 10).map(i => s"tail$i").mkString(" ")
    val docs = Seq(
      (1L, bodyA + " " + footer),
      (2L, bodyB + " " + footer),
      (3L, bodyB + " " + tail)).toDF("doc_id", "text")
    val docPairs = Dedup.sharedSpans(docs, "text", "doc_id", 10, 15, 50)
      .select(col("a"), col("b")).distinct()
    val docComps = graft.ext.Components.connectedComponentsAuto(docPairs, "a", "b")
    assert(docComps.count() == 3 &&
      docComps.select("comp").distinct().count() == 1,
      "doc grain chains unrelated bodies through the footer")
    // 32-token chunks: chunk 0 = body, chunk 1 = footer in every doc.
    val spans = Dedup.sharedSpansChunked(docs, "text", "doc_id", 10, 15, 50, 32)
    val units = spans.select((col("a") * 100 + col("a_chunk")).as("ua"),
      (col("b") * 100 + col("b_chunk")).as("ub")).distinct()
    val comps = graft.ext.Components.connectedComponentsAuto(units, "ua", "ub")
      .select("node", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(101L -> 101L, 201L -> 101L, 200L -> 200L, 300L -> 200L),
      s"expected footer family {101,201} and body family {200,300}, got $comps")
    graft.ops.TransientCache.releaseAll()
  }

  test("removeSharedSpans: excises b-side occurrence only; a-side and clean docs intact") {
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val d1 = (1 to 20).map(i => s"alpha$i").mkString(" ") + " " + shared
    val d2 = shared + " " + (1 to 20).map(i => s"omega$i").mkString(" ")
    val d3 = (1 to 5).map(i => s"clean$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(docs, "text", "doc_id", 10, 15, 50)
    val out = Dedup.removeSharedSpans(docs, spans, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc") ->
        (r.getAs[Long]("n_after"), r.getAs[String]("text_dedup"))).toMap
    // Doc 1 (a-side, lower id) keeps everything.
    assert(out(1L)._1 == 40L && out(1L)._2.endsWith("shared20"))
    // Doc 2 (b-side) loses exactly the 20 shared tokens, keeps its tail.
    assert(out(2L)._1 == 20L && out(2L)._2 ==
      (1 to 20).map(i => s"omega$i").mkString(" "))
    // Doc 3 untouched.
    assert(out(3L) == ((5L, (1 to 5).map(i => s"clean$i").mkString(" "))))
    graft.ops.TransientCache.releaseAll()
  }


  test("chunkLangRows: code-switched doc yields disagreeing chunk languages") {
    // 32 Spanish-stopword tokens then 32 English ones: chunk 0 detects
    // es, chunk 1 detects en — the mixed-language signal q137 aggregates.
    val es = Seq.fill(8)("el la los las").mkString(" ")
    val en = Seq.fill(8)("the is of and").mkString(" ")
    val docs = Seq((1L, es + " " + en), (2L, "zz yy xx ww")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkLangRows(docs, "text", "doc_id", 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set((1L, 0, "es"), (1L, 1, "en"), (2L, 0, "und")))
  }

  test("LSH band-config candidate sets nest: coarser bands never add pairs") {
    // Agreement on a 2r-band implies agreement on both aligned r-sub-
    // bands, so cand(r=8) ⊆ cand(r=4) ⊆ cand(r=2) ⊆ cand(r=1) — the
    // monotonicity that makes q198's sweep an operating CURVE rather
    // than four unrelated numbers.
    val sigs = Dedup.minhashSignaturesTyped(
      Tables.documents(spark, sf), "text", "doc_id", 8)
    // Uncapped, like the q198 sweep: the hot-band owner cap can break
    // nesting (a coarse-band bucket may be hot while its sub-bands are
    // not), so the nesting theorem is a property of the RAW banding.
    val sets = Seq(1, 2, 4, 8).map { r =>
      r -> Dedup.lshCandidatePairs(sigs, 8, r, Int.MaxValue)
        .select("doc_a", "doc_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    sets.sliding(2).foreach { case Seq((rf, fine), (rc, coarse)) =>
      assert(coarse.subsetOf(fine),
        s"band_size=$rc produced pairs absent at band_size=$rf")
    }
    assert(sets.head._2.nonEmpty)
  }

  test("hot-band owner cap drops exactly the pairs whose every shared bucket is hot") {
    // 60 docs with identical text share every band bucket (60 owners >
    // cap 50), two other near-dup docs sit in buckets of 2. The capped
    // join must drop ALL pairs among the 60 clones (their only shared
    // buckets are hot) and keep the small pair; the equivalence
    // predicate is min-shared-bucket-size <= cap, which q257's sweep
    // relies on.
    val clones = (1L to 60L).map(i => (i, "alpha beta gamma delta epsilon"))
    val small = Seq((101L, "zeta eta theta iota kappa"),
      (102L, "zeta eta theta iota kappa"))
    val df = (clones ++ small).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "text", "doc_id", 8)
    val capped = Dedup.lshCandidatePairs(sigs, 8, 2, 50)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)))
    val uncapped = Dedup.lshCandidatePairs(sigs, 8, 2, Int.MaxValue)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 60 * 59 / 2 + 1)
  }

  test("minhash signature agreement is 8/8 for identical shingle sets") {
    val df = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "totally different words here")).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(df, "text", "doc_id", 8), 8, 2).collect()
    val p12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p12.exists(_.getInt(2) == 8))
  }

  test("minhash typed one-pass twin equals the column/explode form") {
    val docs = Tables.documents(spark, sf)
    val a = Dedup.minhashSignatures(docs, "text", "doc_id", 8)
      .orderBy("doc").collect().map(_.toSeq)
    val b = Dedup.minhashSignaturesTyped(docs, "text", "doc_id", 8)
      .orderBy("doc").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("ngram jaccard finds the planted near-dups and respects threshold") {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, sf), "text", "doc_id", 2, 1, 5)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (i, na, nb) = (r.getAs[Long]("n_inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(5 * i >= na + nb - i)
      assert(i <= math.min(na, nb))
    }
  }

  test("simhash is order-insensitive-ish: identical docs share signatures") {
    val df = Seq("alpha beta gamma", "alpha beta gamma").toDF("text")
    val sh = df.select(Dedup.simhash(col("text"))).collect().map(_.getString(0))
    assert(sh(0) == sh(1) && sh(0).length == 64 && sh(0).forall(c => c == '0' || c == '1'))
  }

  test("knn graph: every vector gets up to k cell-local ranked neighbours") {
    val emb = Tables.embeddings(spark, sf)
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", 3, 16)
    val per = g.groupBy("vec_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .collect()
    assert(per.length == emb.count()) // every vector appears (cells >= 4 members)
    per.foreach { r =>
      assert(r.getAs[Long]("n") <= 3 && r.getAs[Int]("mx") == r.getAs[Long]("n"))
    }
    graft.ops.TransientCache.releaseAll()
  }

  test("brute-force top-k returns k ranked rows per query") {
    val res = Similarity.bruteForceTopK(Tables.embeddings(spark, sf),
      "vec_id", "embedding", col("vec_id") < 10, 5)
      .groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .collect()
    assert(res.length == 10)
    res.foreach(r => assert(r.getAs[Long]("n") == 5 && r.getAs[Int]("mx") == 5))
  }

  test("lsh top-k candidates come from the query's own bucket (recall <= brute)") {
    val lsh = Similarity.lshTopK(Tables.embeddings(spark, sf),
      "vec_id", "embedding", col("vec_id") < 10, 3).collect()
    assert(lsh.nonEmpty)
    lsh.foreach(r => assert(r.getAs[Int]("rank") <= 3))
  }

  /** Plain-JVM sign signatures off the fixture — the third
    * implementation the q273/q274 engine packing and oracle bit CTEs
    * both answer to (the SimHash-family pin discipline). */
  private def jvmSignSigs(): Map[Long, (Long, Long)] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map { r =>
        val emb = r.getSeq[Float](1)
        val bits = emb.map(x => math.floor(x.toDouble * 1000) >= 0)
        def pack(off: Int): Long =
          (0 until 32).map(i => if (bits(off + i)) 1L << i else 0L).sum
        r.getLong(0) -> (pack(0), pack(32))
      }.toMap

  test("binary sign signatures match an independent JVM packing") {
    val sigs = jvmSignSigs()
    val got = Similarity.binarySignatures(
        Tables.embeddings(spark, sf), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == sigs)
    // both halves stay inside 32 unsigned bits — no BIGINT sign-bit use
    got.values.foreach { case (s0, s1) =>
      assert(s0 >= 0L && s0 <= 0xFFFFFFFFL && s1 >= 0L && s1 <= 0xFFFFFFFFL)
    }
  }

  test("binary sign top-k: k ranked rows per query, Hamming non-decreasing") {
    val res = Similarity.binarySignTopK(Tables.embeddings(spark, sf),
        "vec_id", "embedding", col("vec_id") < 10, 3)
      .orderBy("query_id", "rank").collect()
    assert(res.length == 30)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val hams = rows.sortBy(_.getInt(1)).map(_.getInt(3))
      assert(hams.zip(hams.tail).forall { case (a, b) => a <= b })
    }
  }

  test("MIH chunk sweep: pigeonhole losslessness measured at m > radius") {
    // JVM ground truth off the engine's signature STRINGS (the bit
    // definition itself is pinned against MessageDigest elsewhere):
    // every pair at Hamming <= 4, counted with plain string ops.
    val sigs = Dedup.simhashSignatures(
        Tables.documents(spark, sf), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val truth = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1) until ids.size
      a = ids(ai); b = ids(bi)
      h = sigs(a).zip(sigs(b)).count { case (x, y) => x != y }
      if h <= 4
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "fixture lost its planted simhash near-dups")
    val sweep = Dedup.simhashChunkSweep(
        Dedup.simhashSignatures(Tables.documents(spark, sf), "text", "doc_id"),
        4, Seq(2, 4, 5, 8))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(sweep.keySet == Set(2, 4, 5, 8))
    // every m > radius is lossless — verified == truth, recall 1e6 —
    // regardless of chunk widths (m=5 is the serving join's banding,
    // m=8 the narrow-chunk one)
    Seq(5, 8).foreach { m =>
      val (nCand, nVer, ppm) = sweep(m)
      assert(nVer == truth.size.toLong, s"lossless leg m=$m missed pairs")
      assert(ppm == 1000000L)
      assert(nCand >= nVer)
    }
    // m <= radius: lossy or equal, never more than truth
    Seq(2, 4).foreach { m =>
      assert(sweep(m)._2 <= truth.size.toLong)
      assert(sweep(m)._3 <= 1000000L)
    }
    graft.ops.TransientCache.releaseAll()
  }

  test("hyperplane weights are deterministic and balanced-ish") {
    val w1 = Similarity.hyperplaneWeights(8, 64)
    val w2 = Similarity.hyperplaneWeights(8, 64)
    assert(w1 == w2)
    assert(w1.flatten.forall(v => v == 1 || v == -1))
    val plus = w1.flatten.count(_ == 1)
    assert(plus > 150 && plus < 350) // ~half of 512
  }

  test("langId detects stopword-bearing text and falls back to und") {
    val df = Seq("the cat is on the mat", "xyzzy plugh").toDF("text")
    val got = TextAnalysis.withLangId(df, "text").select("lang_detected")
      .collect().map(_.getString(0))
    assert(got(0) == "en" && got(1) == "und")
  }

  test("quality score is bounded by construction") {
    TextAnalysis.withQuality(Tables.documents(spark, sf), "text")
      .select("quality").collect()
      .foreach(r => assert(r.getLong(0) >= -50 && r.getLong(0) <= 100))
  }

  test("fingerprint is word-order invariant") {
    val df = Seq("b a c", "c b a").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("inverted-index search is case/accent-insensitive (Spanish surface)") {
    val docs = Seq(
      (1L, "la canción más bonita del año"),
      (2L, "una cancion bonita cualquiera"),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val postings = TextAnalysis.invertedPostings(docs, "text", "doc_id")
    // Accented needle matches both the accented and unaccented docs.
    val hits = TextAnalysis.searchAllTerms(postings, Seq("CANCIÓN", "bonita"))
      .collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == Seq(1L, 2L))
    // Postings terms are folded: 'más' indexes as 'mas'.
    val terms = postings.where(col("doc_id") === 1).collect().map(_.getString(1)).toSet
    assert(terms.contains("mas") && terms.contains("cancion") && !terms.contains("más"))
  }

  test("typed token ops tolerate NULL text like their column twins") {
    val df = Seq((1L, "the cat sat"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val prof = TextAnalysis.withTokenProfile(df, "text")
      .where(col("doc_id") === 2).collect().head
    assert(prof.isNullAt(prof.fieldIndex("n_tokens")))
    assert(prof.getAs[String]("lang_detected") == "und")
    assert(prof.getAs[Long]("quality") == 0L)
    assert(prof.isNullAt(prof.fieldIndex("fingerprint")))
    // NULL rows drop from the row-producing ops (the column forms'
    // where(length(NULL)>=k) / explode(NULL) did the same).
    assert(TextAnalysis.rollingHashFingerprint(df, "text", "doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(Dedup.shingleRows(df, "text", "doc_id")
      .select("doc").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("search needles go through the postings normalization (punctuation, multi-word)") {
    val df = Seq((1L, "the data base holds cats"), (2L, "no match")).toDF("doc_id", "text")
    val postings = TextAnalysis.invertedPostings(df, "text", "doc_id")
    def hits(terms: String*) =
      TextAnalysis.searchAllTerms(postings, terms).collect().map(_.getLong(0)).sorted.toSeq
    assert(hits("cats!") == Seq(1L))            // punctuation stripped
    assert(hits("data base") == Seq(1L))        // multi-word -> AND of tokens
    assert(hits() == Seq(1L, 2L))               // vacuous conjunction
  }

  test("multimodal decode round-trips payload length and frame sampling") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf))
    val dec = Multimodal.decode(spark, media)
    val row = dec.filter(_.media_id == 0L).head()
    assert(row.byte_len > 0 && row.checksum.length == 32)
    val sampled = Multimodal.sampleFrames(dec, 4)
      .where(col("media_id") === 0).count()
    assert(sampled == (row.n_frames + 3) / 4)
  }

  test("blockhash: identical payloads collide at Hamming 0; garbage and empties emit nothing") {
    import graft.ext.Multimodal.MediaRecord
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val media = Seq(
      MediaRecord(1L, "image", Multimodal.encodePng(4, 4, body.getBytes("UTF-8")), "s"),
      // Same data stream in a DIFFERENT container: the signature reads
      // the decoded payload, so the format must not matter.
      MediaRecord(2L, "image", Multimodal.encodeBmp(9, 9, body.getBytes("UTF-8")), "s"),
      // Structurally different stream (descending numerals + mixed
      // token lengths): blockhash keys on the block-mean PROFILE, so a
      // different profile — not merely different letters — must flip bits.
      MediaRecord(3L, "image", Multimodal.encodePng(4, 4,
        (40 to 1 by -1).map(i => "z" * (i % 7 + 1) + i).mkString(" ")
          .getBytes("UTF-8")), "s"),
      MediaRecord(4L, "image", Array[Byte](1, 2, 3), "s"),          // garbage
      MediaRecord(5L, "image", Multimodal.encodePng(4, 4, Array.empty), "s"))
      .toDF()
    val sigs = Multimodal.blockhashSignatures(media)
    val byDoc = sigs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L), "garbage/empty payloads must emit no signature")
    assert(byDoc(1L) == byDoc(2L), "same decoded stream => same signature across containers")
    assert(byDoc(1L) != byDoc(3L))
    val pairs = Dedup.simhashHammingPairsFromSigs(sigs, 0, sigBits = 32).collect()
    assert(pairs.length == 1 &&
      pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L &&
      pairs.head.getInt(2) == 0)
  }

  test("simhash pair join with exact-dup collapse is lossless (same pair set)") {
    // Random signatures drawn around 40 base patterns with 0-3 bit
    // flips: duplicate groups (collapse targets), near pairs (cross-
    // group expansion), and isolates all occur. The collapsed form must
    // reproduce the plain banded join's (doc_a, doc_b, hamming) set
    // EXACTLY — identical signatures have identical distances, so
    // collapsing them can never change the answer.
    val rnd = new scala.util.Random(7)
    val base = Vector.fill(40)(Seq.fill(32)(rnd.nextInt(2)).mkString)
    val sigRows = (1 to 120).map { i =>
      val s0 = base(rnd.nextInt(base.size))
      val s = (0 until rnd.nextInt(4)).foldLeft(s0) { (acc, _) =>
        val j = rnd.nextInt(32)
        acc.updated(j, if (acc(j) == '0') '1' else '0')
      }
      (i.toLong, s)
    }.toDF("doc", "simhash")
    def pairSet3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = pairSet3(Dedup.simhashHammingPairsFromSigs(sigRows, 2, sigBits = 32))
    val dedup = pairSet3(Dedup.simhashHammingPairsDedupSigs(sigRows, 2, sigBits = 32))
    assert(plain == dedup,
      s"missing=${(plain -- dedup).take(5)} extra=${(dedup -- plain).take(5)}")
    assert(plain.nonEmpty, "fixture must actually produce pairs")
  }

  test("simhash dedup collapse stays lossless at the q139 PRODUCTION config (64-bit, t=8, 9 bands)") {
    // r10 advice: after q139's 64-bit redesign the sf0.01 oracle row is
    // empty-vs-empty, so the banded-join-vs-full-pairwise equivalence at
    // the production parameters was only exercised by a 3-signature
    // fixture. Run the lossless property on a DENSE 64-bit fixture —
    // duplicate groups, ≤10-bit perturbations (spanning both sides of
    // the t=8 cut), isolates — through the exact production call.
    val rnd = new scala.util.Random(11)
    val base = Vector.fill(30)(Seq.fill(64)(rnd.nextInt(2)).mkString)
    val sigRows = (1 to 150).map { i =>
      val s0 = base(rnd.nextInt(base.size))
      val s = (0 until rnd.nextInt(11)).foldLeft(s0) { (acc, _) =>
        val j = rnd.nextInt(64)
        acc.updated(j, if (acc(j) == '0') '1' else '0')
      }
      (i.toLong, s)
    }.toDF("doc", "simhash")
    def pairSet3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = pairSet3(Dedup.simhashHammingPairsFromSigs(sigRows, 8, sigBits = 64))
    val dedup = pairSet3(Dedup.simhashHammingPairsDedupSigs(sigRows, 8, sigBits = 64))
    assert(plain == dedup,
      s"missing=${(plain -- dedup).take(5)} extra=${(dedup -- plain).take(5)}")
    assert(plain.nonEmpty, "fixture must actually produce pairs at t=8")
    assert(plain.exists(_._3 > 0), "fixture must pair beyond exact dups")
  }

  test("q139 production config: 64-bit blockhash pairs a perturbed payload, not noise") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.MediaRecord
    // The sf0.01 oracle row is empty-vs-empty (that sample has no
    // planted media near-dups — min pairwise distance 10 at 64 bits),
    // so the production shape gets its positive case HERE: a payload
    // perturbed in one region must pair with its original at a small
    // nonzero Hamming distance through the exact q139 call chain
    // (64-bit signature, threshold 8, 9-band pigeonhole), and a
    // different-profile payload must stay out.
    val body = (1 to 600).map(i => "tok" + (i % 97)).mkString(" ")
    val mid = body.length / 2
    val perturbed = body.substring(0, mid) + "Z" * 60 +
      body.substring(mid + 60)
    val inverted = (600 to 1 by -1)
      .map(i => "z" * (i % 7 + 1) + i).mkString(" ").take(body.length)
    val media = Seq(
      MediaRecord(10L, "image", Multimodal.encodePng(8, 8, body.getBytes("UTF-8")), "s"),
      MediaRecord(11L, "image", Multimodal.encodePng(8, 8, perturbed.getBytes("UTF-8")), "s"),
      MediaRecord(12L, "image", Multimodal.encodePng(8, 8, inverted.getBytes("UTF-8")), "s"))
      .toDF()
    val sigs = Multimodal.blockhashSignatures(media, 64)
    val got = Dedup.simhashHammingPairsDedupSigs(sigs, 8, sigBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((10L, 11L)),
      s"expected exactly the planted pair, got ${got.toSeq}")
    assert(got.head._3 >= 1 && got.head._3 <= 8,
      s"perturbation must flip >=1 block mean: ${got.head}")
  }

  test("frameSegments: concatenation rebuilds the decoded stream; stills/garbage emit none") {
    import graft.ext.Multimodal.MediaRecord
    val body = ("x" * 300) + "tail"            // 2 frames: 256 + 48 bytes
    val media = Seq(
      MediaRecord(1L, "video", Multimodal.encodeGif(3, 3, body.getBytes("UTF-8")), "s"),
      MediaRecord(2L, "image", Multimodal.encodePng(3, 3, body.getBytes("UTF-8")), "s"),
      MediaRecord(3L, "video", Array[Byte](9, 9), "s"))
    .toDF()
    val segs = Multimodal.frameSegments(media).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(segs.forall(_._1 == 1L), "only the decodable GIF emits frames")
    val rebuilt = segs.sortBy(_._2).map(_._3).mkString
    assert(rebuilt == body, "frames must tile the decoded stream exactly")
    assert(segs.length == body.length / 256 + 1,
      "frame count must match decode()'s n_frames formula")
    assert(segs.map(_._3.length).toSeq == Seq(256, body.length - 256))
  }

  test("proximityHits: ordered pairs within slop only; tightest gap reported") {
    val docs = Seq(
      (1L, "alpha x beta"),          // gap 2: within slop 3
      (2L, "alpha x y z beta"),      // gap 4: outside slop
      (3L, "beta alpha"),            // wrong order: no hit
      (4L, "alpha beta alpha x beta") // pairs: (1,2) g1, (1,5) g4✗, (3,5) g2 -> 2 hits, min 1
    ).toDF("doc_id", "text")
    val pos = TextAnalysis.tokenPosRows(docs, "text", "doc_id")
    val got = TextAnalysis.proximityHits(pos, "alpha", "beta", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, 2L)), 4L -> ((2L, 1L))))
  }

  test("phraseHits: consecutive-only matches, overlapping repeats, multi-word") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"),  // "alpha beta" twice
      (2L, "beta alpha"),                   // reversed: no hit
      (3L, "alpha x beta"),                 // gap: no hit
      (4L, "go go go"),                     // "go go" overlaps: 2 hits
      (5L, "one two three four")            // 3-word phrase hit
    ).toDF("doc_id", "text")
    val pos = TextAnalysis.tokenPosRows(docs, "text", "doc_id")
    def hits(phrase: String*): Map[Long, Long] =
      TextAnalysis.phraseHits(pos, phrase).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("alpha", "beta") == Map(1L -> 2L))
    assert(hits("go", "go") == Map(4L -> 2L))
    assert(hits("two", "three", "four") == Map(5L -> 1L))
    assert(hits("gamma", "beta").isEmpty)
  }

  test("mmrRerank: λ=1 degenerates to relevance order; λ=0.7 breaks up a near-dup cluster") {
    // query 0 along e1; candidates 1,2 = EXACT duplicates (sim = 1e6,
    // quantized math exact), 3 = equally relevant mirror image (same
    // rel_q by symmetry, pairwise sim 975609 < 1e6) — so pure relevance
    // orders by id while MMR must break up the duplicate pair.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.9f, -0.1f))).toDF("vec_id", "embedding")
    val pure = Similarity.mmrRerank(emb, "vec_id", "embedding", 0L, 3, 3,
        lambdaNum = 10, lambdaDen = 10)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(pure == Seq(1L, 2L, 3L), s"λ=1 should be id-tiebroken relevance, got $pure")
    val div = Similarity.mmrRerank(emb, "vec_id", "embedding", 0L, 3, 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(div == Seq(1L, 3L, 2L),
      s"λ=0.7 should pull the diverse vec 3 ahead of exact-dup 2, got $div")
  }

  test("zoneMapAudit rejects a tie column named like one of its working columns") {
    val df = Seq((1L, 2L, 10L), (3L, 4L, 11L)).toDF("px", "py", "f")
    val err = intercept[IllegalArgumentException] {
      graft.ext.Layout.zoneMapAudit(df, "px", "py", Seq("f"), 2, 0L, 5L, 0L, 5L)
    }
    assert(err.getMessage.endsWith("working names: f"), err.getMessage)
    // A non-colliding tie still audits both layouts.
    val ok = graft.ext.Layout.zoneMapAudit(df.withColumnRenamed("f", "tie"),
      "px", "py", Seq("tie"), 2, 0L, 5L, 0L, 5L)
    assert(ok.collect().map(_.getString(0)).toSeq == Seq("natural", "zorder"))
  }
}

/** Cross-strategy equivalence: alternate implementations of the same
  * operator must produce identical rows. */
class StrategyEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("sparse (gram-bucketed join) and dense (bitset) jaccard agree") {
    val docs = Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val sparse = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 1, 5)
      .collect().map(key).sortBy(t => (t._1, t._2))
    // Limits no corpus exceeds force the bitset path.
    val dense = Dedup.ngramJaccardPairsAutoFromShingles(
        Dedup.shingleRows(docs, "text", "doc_id", 2), 1, 5,
        denseVocabLimit = Int.MaxValue, denseDocLimit = Long.MaxValue)
      .collect().map(key).sortBy(t => (t._1, t._2))
    assert(sparse.nonEmpty && (sparse sameElements dense))
  }

  test("jaccard auto-dispatch falls back to sparse when doc count exceeds the dense limit") {
    val docs = Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // denseDocLimit=1 forces the sparse bucketed join even though the
    // fixture vocabulary is tiny — the 100-TB-with-small-vocab case must
    // never reach the dense path's driver collect.
    val sh = Dedup.shingleRows(docs, "text", "doc_id", 2)
    val forced = Dedup.ngramJaccardPairsAutoFromShingles(sh, 1, 5,
        denseVocabLimit = 1 << 16, denseDocLimit = 1L)
      .collect().map(key).sortBy(t => (t._1, t._2))
    val auto = Dedup.ngramJaccardPairsAutoFromShingles(sh, 1, 5)
      .collect().map(key).sortBy(t => (t._1, t._2))
    assert(forced.nonEmpty && (forced sameElements auto))
    graft.ops.TransientCache.releaseAll()
  }

  test("near-dup salted skew path equals the plain blocked join") {
    import spark.implicits._
    // Skewed fixture: one giant label block (120 vectors) + small blocks.
    val vecs = (0 until 150).map { i =>
      val blk = if (i < 120) 0L else (i % 5 + 1).toLong
      val v = Array.tabulate(8)(d => ((i % 7) + d).toFloat / 10f)
      (i.toLong, blk, v)
    }
    val df = vecs.toDF("vec_id", "label", "embedding")
    def rows(skewLimit: Long) =
      Similarity.nearDupPairs(df, "vec_id", "embedding", "label", 3, 10,
          skewBlockLimit = skewLimit, nSalts = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val plain = rows(Long.MaxValue) // every block under the limit
    val salted = rows(16)           // the 120-block takes the salted path
    assert(plain.nonEmpty && (plain sameElements salted))
    graft.ops.TransientCache.releaseAll()
  }

  test("hard negatives: label-excluded, and equal brute-force top-k after label filter") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val labels = emb.select(col("vec_id").as("query_id"),
      col("label").as("q_label"))
    val hn = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      col("vec_id") < 5, 3)
    val rows = hn.join(labels, "query_id").collect()
    assert(rows.nonEmpty)
    // No negative may share its anchor's label.
    assert(rows.forall(r =>
      r.getInt(r.fieldIndex("neg_label")) != r.getInt(r.fieldIndex("q_label"))))
    // Ranks are contiguous from 1 per anchor.
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(g.head.fieldIndex("rank"))).sorted
        .sameElements(1 to g.size))
    }
    // Equivalence twin: brute-force top-k over a pre-filtered candidate
    // set (anchor's label removed) must agree pair-for-pair. One anchor,
    // pre-filter by its known label.
    val anchorLabel = emb.where(col("vec_id") === 0)
      .select("label").as[Int].head()
    val pre = Similarity.bruteForceTopK(
        emb.where(col("label") =!= anchorLabel || col("vec_id") === 0),
        "vec_id", "embedding", col("vec_id") === 0, 3)
      .select("query_id", "rank", "vec_id", "dot")
      .collect().map(_.toSeq).toSeq
    val direct = hn.where(col("query_id") === 0)
      .select("query_id", "rank", "vec_id", "dot")
      .collect().map(_.toSeq).toSeq
    assert(direct == pre)
    graft.ops.TransientCache.releaseAll()
  }

  test("embedding QC: zero vectors, ragged dims, exact scatter") {
    import spark.implicits._
    // Group 0: two identical vectors (scatter must be exactly 0) plus an
    // all-zero vector. Group 1: ragged dims (3 vs 5). Group 2: a hand-
    // checkable pair.
    val vecs = Seq(
      (0L, 0, Array(0.5f, -0.25f, 1.0f)),
      (1L, 0, Array(0.5f, -0.25f, 1.0f)),
      (2L, 0, Array(0.0f, 0.0f, 0.0f)),
      (3L, 1, Array(1.0f, 1.0f, 1.0f)),
      (4L, 1, Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (5L, 2, Array(0.001f, 0.0f)),
      (6L, 2, Array(0.0f, 0.002f)))
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.qcStats(df, "vec_id", "embedding", "label")
      .orderBy("grp").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    // Brute-force twin over the same quantization (floor(x*1000)).
    def q(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1000).toLong)
    val byGrp = vecs.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, vs) =>
      val qs = vs.map(v => q(v._3))
      val nqs = qs.map(a => a.map(x => x * x).sum)
      val dims = qs.map(_.length)
      val maxDim = dims.max
      val ssx = (0 until maxDim).map { d =>
        val sx = qs.map(a => if (d < a.length) a(d) else 0L).sum
        sx * sx
      }.sum
      (g, qs.size.toLong, nqs.count(_ == 0L).toLong,
        dims.min.toLong, maxDim.toLong, nqs.min, nqs.max, nqs.sum,
        qs.size * nqs.sum - ssx)
    }
    assert(got.toSeq == byGrp)
    // A group of n identical vectors has scatter exactly 0.
    val dup = Seq((0L, 0, Array(0.3f, 0.7f)), (1L, 0, Array(0.3f, 0.7f)))
      .toDF("vec_id", "label", "embedding")
    val s0 = Similarity.qcStats(dup, "vec_id", "embedding", "label")
      .select("scatter").as[Long].head()
    assert(s0 == 0L)
    graft.ops.TransientCache.releaseAll()
  }

  test("gopher flags from the typed profile equal the HOF column form") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(300)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, null.asInstanceOf[String])) // null-text row
        .toDF("doc_id", "text"))
    val cols = Seq("doc_id", "n_words", "len_sum", "n_alpha",
      "n_stop_present", "flag_word_count", "flag_mean_len", "flag_alpha",
      "flag_stop", "pass_gopher")
    val hof = TextAnalysis.gopherFlags(docs, "text")
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    val prof = TextAnalysis.gopherFlagsFromProfile(
        TextAnalysis.withTokenProfile(docs, "text"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(hof.nonEmpty && (hof sameElements prof))
  }

  test("typed token profile equals the column-expression forms") {
    val docs = Tables.documents(spark, sf).limit(200)
    val typed = TextAnalysis.withTokenProfile(docs, "text")
      .select("doc_id", "n_tokens", "n_uniq", "n_stop",
        "s_en", "s_es", "s_de", "s_fr", "lang_detected", "quality",
        "n_subword", "n_chars_norm", "fingerprint")
      .collect().map(_.toString).sorted
    val norm = TextAnalysis.normalize(col("text"))
    val cols = TextAnalysis.withQuality(
        TextAnalysis.withLangId(docs, "text"), "text")
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
        col("s_en"), col("s_es"), col("s_de"), col("s_fr"), col("lang_detected"),
        col("quality"),
        regexp_count(norm, lit("[a-z]+|[0-9]+")).cast("int").as("n_subword"),
        length(norm).as("n_chars_norm"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .collect().map(_.toString).sorted
    assert(typed.nonEmpty && (typed sameElements cols))
  }

  test("64-bit simhash bits follow the md5-bit vote definition (independent JVM recompute)") {
    // Pins the signature DEFINITION — bit j (1..64, MSB first) is the
    // sign of the ±1 vote sum over tokens, a token voting +1 iff bit j
    // of md5(token) is set — against a plain-JVM MessageDigest
    // reimplementation, independent of both the Catalyst expression
    // tree and the DuckDB oracle CTE (which must BOTH match this).
    import spark.implicits._
    val docs = Seq(
      101L -> "alpha beta gamma alpha",
      102L -> "  Mixed CASE text,  with punct!! and 123 ",
      103L -> "").toDF("doc_id", "text")
    val got = Dedup.simhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = docs.select(col("doc_id"),
        TextAnalysis.tokens(TextAnalysis.normalize(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def expected(tokens: Seq[String]): String =
      if (tokens.isEmpty) "0" * 64
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val votes = new Array[Int](64)
        tokens.foreach { t =>
          val d = md.digest(t.getBytes("UTF-8"))
          for (j <- 0 until 64) {
            val bit = (d(j / 8) >> (7 - j % 8)) & 1
            votes(j) += (if (bit == 1) 1 else -1)
          }
        }
        votes.map(v => if (v >= 0) '1' else '0').mkString
      }
    Seq(101L, 102L, 103L).foreach { id =>
      assert(got(id) == expected(toks(id)),
        s"doc $id: engine ${got(id)} != definition ${expected(toks(id))}")
    }
    assert(got(101L).length == 64 && got(101L).contains('1'))
  }

  test("simhash column form and explode-aggregate cluster form agree") {
    val docs = Tables.documents(spark, sf).limit(100)
    val perDoc = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Dedup.simhashClustersFromSigs(
      Dedup.simhashSignatures(docs, "text", "doc_id")).collect()
    clustered.foreach { r =>
      val sig = r.getString(0)
      val minDoc = r.getLong(2)
      assert(perDoc(minDoc) == sig, s"cluster signature mismatch for doc $minDoc")
    }
  }

  test("NB quality classifier matches the brute-force reference and separates planted classes") {
    import spark.implicits._
    val buckets = 64
    // Planted separable corpus: clean docs speak 'alpha/bravo', dirty
    // docs 'zulu/yankee'; one doc (id 99) has NO tokens -> prior-only.
    val docs = ((1L to 10L).map(i => (i, "alpha bravo alpha charlie")) ++
      (11L to 20L).map(i => (i, "zulu yankee zulu xray")) :+ (99L -> ""))
      .toList.toDF("doc_id", "text")
    val labels = ((1L to 10L).map((_, true)) ++ (11L to 20L).map((_, false)) :+
      (99L -> true)).toList.toDF("doc", "clean")
    val db = graft.ext.QualityClassifier.bucketCounts(docs, "text", "doc_id", buckets)
    val got = graft.ext.QualityClassifier.trainAndScore(db, labels, buckets)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap
    // Brute-force reference with the same formulas, hashing via the same
    // first-4-md5-bytes convention.
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): Long = {
      val dig = md.digest(tok.getBytes("UTF-8"))
      var v = 0L; var j = 0
      while (j < 4) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
      v % buckets
    }
    val toks = Map("clean" -> Seq("alpha", "bravo", "alpha", "charlie"),
      "dirty" -> Seq("zulu", "yankee", "zulu", "xray"))
    val cc = toks("clean").flatMap(t => Seq.fill(10)(bucket(t)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dc = toks("dirty").flatMap(t => Seq.fill(10)(bucket(t)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tc, td) = (cc.values.sum, dc.values.sum)
    def lambda(b: Long): Long = math.floor(1000.0 * math.log(
      ((cc.getOrElse(b, 0L) + 1).toDouble * (td + buckets)) /
        ((dc.getOrElse(b, 0L) + 1).toDouble * (tc + buckets)))).toLong
    val priorQ = math.floor(1000.0 * math.log(11.0 / 10.0)).toLong
    def score(ts: Seq[String]): Long =
      ts.groupBy(bucket).map { case (b, occ) => occ.size * lambda(b) }.sum + priorQ
    (1L to 10L).foreach { i =>
      val (cl, s, pred) = got(i)
      assert(cl && pred && s == score(toks("clean")), s"doc $i")
    }
    (11L to 20L).foreach { i =>
      val (cl, s, pred) = got(i)
      assert(!cl && !pred && s == score(toks("dirty")), s"doc $i")
    }
    // token-free doc: prior-only score, predicted by the class prior
    assert(got(99L)._2 == priorQ && got(99L)._3 == (priorQ > 0L))
  }
}
