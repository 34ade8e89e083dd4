package graft

import graft.ext.{Components, Ranking, Sampling}
import graft.ops.{AsOfJoin, Funnel, RangeJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for the round-3 pipeline operators (as-of join, range
  * join, connected components, BM25, deterministic sampling) — edge cases
  * the sf-level oracle queries don't isolate: tie instants, window
  * boundaries, multi-hop components, empty inputs. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("asOf: picks latest at-or-before; equal-time right included; ties -> max id") {
    import spark.implicits._
    val left = Seq((100L, 1L, ts(50)), (101L, 1L, ts(10)), (102L, 2L, ts(5)))
      .toDF("event_id", "user_id", "t")
    val right = Seq(
      (1L, 1L, ts(10), "at"),     // exactly at left 101's instant -> matches it
      (2L, 1L, ts(40), "before"),
      (3L, 1L, ts(40), "before_dup"), // same instant as id 2 -> greater id wins
      (4L, 1L, ts(60), "after"),  // after left 100 -> never matched by it
      (5L, 3L, ts(1), "other_key"))
      .toDF("rid", "user_id", "t", "tag")
    val got = AsOfJoin.asOfInner(left, right, "user_id", "t",
        Seq("rid", "tag"), "rid")
      .orderBy("event_id")
      .collect()
    assert(got.length == 2)
    // left 100 @50: latest right <= 50 is the tie pair @40 -> rid 3 wins
    assert(got(0).getAs[Long]("event_id") == 100L &&
      got(0).getAs[Long]("r_rid") == 3L &&
      got(0).getAs[String]("r_tag") == "before_dup")
    // left 101 @10: right @10 matches (at-or-before)
    assert(got(1).getAs[Long]("event_id") == 101L &&
      got(1).getAs[Long]("r_rid") == 1L)
    // left 102 key 2: no right rows -> the row is absent
    assert(!got.exists(_.getAs[Long]("event_id") == 102L))
  }

  test("rangeJoin: strictly-after exclusive start, inclusive end, bucket straddle") {
    import spark.implicits._
    val w = 10L * 1000000L // 10 s window in micros
    val left = Seq((1L, 1L, ts(95))).toDF("lid", "k", "t") // bucket straddle: 95 -> [95,105]
    val right = Seq(
      (10L, 1L, ts(95)),   // == left t: excluded (strict >)
      (11L, 1L, ts(96)),   // in window, same bucket (9)
      (12L, 1L, ts(105)),  // == left t + w: included (inclusive end), bucket 10
      (13L, 1L, ts(106)),  // past window
      (14L, 2L, ts(96)))   // wrong key
      .toDF("rid", "k", "t")
    val got = RangeJoin.pairsWithinAfter(left, right, "k", "t", "t", w, Seq("rid"))
      .select("r_rid").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L, 12L))
    // zero/negative windows would silently bucket to null -> empty result
    val err = intercept[IllegalArgumentException] {
      RangeJoin.pairsWithinAfter(left, right, "k", "t", "t", 0L, Seq("rid"))
    }
    assert(err.getMessage.contains("windowMicros"))
  }

  test("connectedComponents: multi-hop chain + separate cliques -> min labels") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 round) and clique 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Components.connectedComponents(edges, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    graft.ops.TransientCache.releaseAll()
  }

  test("connectedComponentsAuto: local union-find equals the distributed loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val local = Components.connectedComponentsAuto(edges, "a", "b")
      .as[(Long, Long)].collect().toSet
    val distributed = Components.connectedComponentsAuto(edges, "a", "b",
        localEdgeLimit = 0L) // force the loop path
      .as[(Long, Long)].collect().toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(local == expected && distributed == expected)
    graft.ops.TransientCache.releaseAll()
  }

  test("simhashComponents: signature-collapsed path equals doc-level pair graph") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = graft.ops.TransientCache.persist(
      graft.ext.Dedup.simhashSignatures(docs, "text", "doc_id"))
    val viaSigs = graft.ext.Dedup.simhashComponents(sigs, 2)
      .as[(Long, Long)].collect().toSet
    val direct = Components.connectedComponents(
        graft.ext.Dedup.simhashHammingPairsFromSigs(sigs, 2), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(viaSigs == direct && viaSigs.nonEmpty)
    graft.ops.TransientCache.releaseAll()
  }

  test("bm25: more matching occurrences in a shorter doc ranks higher; fold applies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark engine"),
      (2L, "spark appears once in this considerably longer document text body"),
      (3L, "nothing relevant here at all"),
      (4L, "Spárk accented")) // fold: Spárk -> spark
      .toDF("doc_id", "text")
    val got = Ranking.bm25TopK(docs, "text", "doc_id", Seq("spárk"), 10)
      .orderBy("rank").collect()
    val ids = got.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.head == 1L)          // highest tf, short doc
    assert(ids.toSet == Set(1L, 2L, 4L)) // doc 3 never scores
    assert(got.forall(_.getAs[Long]("score_q") > 0))
  }


  test("dsirScores: bigram-profile log-ratio ranks target-like docs above unlike ones") {
    import spark.implicits._
    // Target slice (lang=es) is all "uno dos" bigrams; raw doc 10 repeats
    // the target's bigrams, raw doc 11 shares none — the importance
    // log-ratio must rank 10 above 11.
    val docs = Seq(
      (1L, "uno dos uno dos uno dos uno dos", "es"),
      (2L, "uno dos tres uno dos tres", "es"),
      (10L, "uno dos uno dos", "en"),
      (11L, "cat dog cat dog", "en")
    ).toDF("doc_id", "text", "lang")
    val scores = graft.ext.Sampling
      .dsirScores(docs, "text", "doc_id", col("lang") === "es", 64)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("score")).toMap
    assert(scores(10L) > scores(11L))
    // Target members outrank the target-unlike doc too (absolute sign is
    // smoothing-dependent at toy counts — only ranking is contractual).
    assert(scores(1L) > scores(11L) && scores(2L) > scores(11L))
    graft.ops.TransientCache.releaseAll()
  }


  test("dsirBucketCountsLocal equals the batch groupBy profile") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(graft.ext.Sampling.dsirBucketCountsLocal(docs, "text", "doc_id", 512)) ==
      key(graft.ext.Sampling.dsirBucketCounts(docs, "text", "doc_id", 512)))
    graft.ops.TransientCache.releaseAll()
  }

  test("dsirScores: empty input and single-token docs produce no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(graft.ext.Sampling.dsirScores(empty, "text", "doc_id",
      col("lang") === "es").count() == 0)
    val tiny = Seq((1L, "solo", "es")).toDF("doc_id", "text", "lang")
    assert(graft.ext.Sampling.dsirScores(tiny, "text", "doc_id",
      col("lang") === "es").count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("asOf: null keys never match (SQL join semantics)") {
    import spark.implicits._
    val left = Seq((1L, Option.empty[Long], ts(50)), (2L, Option(7L), ts(50)))
      .toDF("lid", "k", "t")
    val right = Seq((10L, Option.empty[Long], ts(40)), (11L, Option(7L), ts(40)))
      .toDF("rid", "k", "t")
    val got = AsOfJoin.asOfInner(left, right, "k", "t", Seq("rid"), "rid")
      .orderBy("lid").collect()
    assert(!got.exists(_.getAs[Long]("lid") == 1L)) // null key -> no match
    assert(got.length == 1 && got(0).getAs[Long]("r_rid") == 11L)
  }

  test("streaming attribution fold: cross-batch future click never attributes") {
    import graft.streaming.{EventsStream, LastClick}
    // State holds a click at t=100s (from an earlier batch); a late
    // purchase at t=95s must NOT attribute to it.
    val purchase = EventsStream.Event(5L, ts(95), 1L, "purchase", 2.0)
    val (outLate, stLate) = EventsStream.attributeGroup(1L, Seq(purchase),
      Some(LastClick(100L * 1000000L, 4L, 1.0)))
    assert(outLate.isEmpty && stLate.contains(LastClick(100L * 1000000L, 4L, 1.0)))
    // An on-time purchase at t=100s (same instant) does attribute.
    val onTime = EventsStream.Event(6L, ts(100), 1L, "purchase", 2.0)
    val (outOk, _) = EventsStream.attributeGroup(1L, Seq(onTime),
      Some(LastClick(100L * 1000000L, 4L, 1.0)))
    assert(outOk.map(a => (a.event_id, a.click_event_id)) == Seq((6L, 4L)))
    // An older click in a later batch must not replace newer state.
    val oldClick = EventsStream.Event(3L, ts(90), 1L, "click", 1.0)
    val (_, stKept) = EventsStream.attributeGroup(1L, Seq(oldClick),
      Some(LastClick(100L * 1000000L, 4L, 1.0)))
    assert(stKept.contains(LastClick(100L * 1000000L, 4L, 1.0)))
  }

  test("minhash typed twin skips null ids and null text like shingleRows") {
    import spark.implicits._
    val df = Seq((Option(1L), Option("alpha beta gamma")),
        (Option.empty[Long], Option("alpha beta gamma")),
        (Option(3L), Option.empty[String]))
      .toDF("doc_id", "text")
    val typed = graft.ext.Dedup.minhashSignaturesTyped(df, "text", "doc_id")
      .select("doc").as[Long].collect().toSeq
    val column = graft.ext.Dedup.minhashSignatures(df, "text", "doc_id")
      .select("doc").as[Long].collect().toSeq
    assert(typed == Seq(1L) && column == Seq(1L))
  }

  test("sampling: thresholds exact; rate 0 keeps nothing, rate 1 keeps all") {
    assert(Sampling.hexThreshold(0.5) == "80000000")
    assert(Sampling.hexThreshold(0.75) == "c0000000")
    assert(Sampling.hexThreshold(0.0) == "00000000")
    // rate 1.0 compares above every 8-hex draw — including "ffffffff"
    assert(Sampling.hexThreshold(1.0) == "g" && "ffffffff" < "g")
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val none = Sampling.stratifiedSample(df, "id", "stratum",
      Seq("a" -> 0.0, "b" -> 0.0), 0.0)
    assert(none.count() == 0)
    val all = Sampling.stratifiedSample(df, "id", "stratum",
      Seq("a" -> 1.0), 1.0)
    assert(all.count() == 200)
    // determinism: same call, same membership
    val s1 = Sampling.stratifiedSample(df, "id", "stratum", Seq("a" -> 0.3), 0.6)
      .select("id").as[Long].collect().sorted.toSeq
    val s2 = Sampling.stratifiedSample(df, "id", "stratum", Seq("a" -> 0.3), 0.6)
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1 == s2 && s1.nonEmpty)
  }

  test("groupAwareSplit: groups move whole; NULL group falls back to own id") {
    import spark.implicits._
    // Groups chosen so different keys land in different splits at 0.5/0.25.
    val df = Seq(
      (1L, Some(10L)), (2L, Some(10L)), (3L, Some(10L)), // one component
      (4L, Some(20L)), (5L, Some(20L)),                  // another
      (6L, None), (7L, None))                            // singletons
      .toDF("doc_id", "grp")
    val got = Sampling.groupAwareSplit(df, "doc_id", "grp", 0.5, 0.25)
      .select("doc_id", "group_key", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val byGroup = got.groupBy(_._2)
    // every member of a group carries the same split label
    byGroup.foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.size == 1, s"group split torn: $rows")
    }
    assert(byGroup(10L).map(_._1).toSet == Set(1L, 2L, 3L))
    // singletons keep their own id as group key
    assert(got.find(_._1 == 6L).get._2 == 6L)
    assert(got.find(_._1 == 7L).get._2 == 7L)
    // the label is exactly splitAssign on the group key: same id -> same
    // split whether it arrives as a group key or a doc id
    val direct = Sampling.splitAssign(
        Seq(10L, 20L, 6L, 7L).toDF("doc_id"), "doc_id", 0.5, 0.25)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (_, g, s) => assert(direct(g) == s) }
  }

  test("curriculumBins: equal-depth bins, best scores first, token mass exact") {
    import spark.implicits._
    // 10 docs in one stratum, scores 10..1, tokens = score*10
    val df = (1L to 10L).map(i => ("s", i, 11L - i, (11 - i).toInt * 10))
      .toDF("source", "doc_id", "quality", "n_tokens")
    val got = Sampling.curriculumBins(df, "source", "quality", "doc_id",
        "n_tokens", 4)
      .orderBy("bin").collect()
    // NTILE(4) over 10 rows -> depths 3,3,2,2
    assert(got.map(_.getAs[Long]("n_docs")).toSeq == Seq(3L, 3L, 2L, 2L))
    // bin 1 = top scores 10,9,8 -> tokens 100+90+80
    assert(got(0).getAs[Long]("bin_tokens") == 270L)
    assert(got(0).getAs[Long]("min_score") == 8L &&
      got(0).getAs[Long]("max_score") == 10L)
    // bins descend: every bin's max <= previous bin's min
    got.sliding(2).foreach { case Array(hi, lo) =>
      assert(lo.getAs[Long]("max_score") <= hi.getAs[Long]("min_score"))
    }
  }

  test("budgetSelect: inclusive cap, straddler dropped, tiebreak by id") {
    import spark.implicits._
    val df = Seq(
      ("s", 1L, 5L, 40), ("s", 2L, 5L, 30),  // tie on score -> id order
      ("s", 3L, 4L, 30), ("s", 4L, 3L, 50),
      ("t", 9L, 9L, 500))                    // own stratum, over budget alone
      .toDF("source", "doc_id", "quality", "n_tokens")
    val got = Sampling.budgetSelect(df, "source", "quality", "doc_id",
        "n_tokens", 100L)
      .orderBy("doc_id").collect()
    // s: cum 40, 70, 100 (== budget, kept inclusive), 150 (dropped)
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(40L, 70L, 100L))
    // t's only doc exceeds the budget alone -> stratum empty (hard cap)
    assert(!got.exists(_.getAs[String]("source") == "t"))
  }

  test("quantile scale path: percentile_approx rank error within its bound") {
    // q57 uses exact interpolated percentiles (engine-parity-exact); the
    // 100 TB path is percentile_approx (SCALE.md) — pin its contract: for
    // accuracy a, the returned value's RANK is within n/a of the target.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val accuracy = 100
    val approx = docs.select(
      expr(s"percentile_approx(n_chars, 0.5D, $accuracy)")).head().getLong(0)
    val below = docs.where(col("n_chars") < approx).count()
    val aboveStrict = docs.where(col("n_chars") > approx).count()
    val bound = n / 2 + n / accuracy
    assert(below <= bound, s"approx median rank too high: $below below of $n")
    assert(aboveStrict <= bound, s"approx median rank too low: $aboveStrict above of $n")
  }

  test("chunkWindows: stride/window boundary semantics and hash determinism") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    // 10 tokens, window 8, stride 6 -> chunks [0,8) and [6,10)
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkWindows(df, "text", "doc_id", 8, 6)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(got.length == 2) // empty + null docs chunk-free
    assert(got(0).getAs[Int]("start_tok") == 0 && got(0).getAs[Int]("n_chunk_tokens") == 8)
    assert(got(1).getAs[Int]("start_tok") == 6 && got(1).getAs[Int]("n_chunk_tokens") == 4)
    // hash matches the engine's md5 of the joined token window
    val h0 = df.sparkSession.sql(
      s"SELECT md5(CAST('${(1 to 8).map(i => s"w$i").mkString(" ")}' AS BINARY))")
      .head().getString(0)
    assert(got(0).getAs[String]("chunk_hash") == h0)
  }

  test("packSequences: greedy prefix packing is per-stratum and integer-exact") {
    import spark.implicits._
    val docs = Seq(("en", 1L, 300L), ("en", 2L, 300L), ("en", 3L, 100L),
      ("de", 10L, 600L), ("de", 11L, 10L)).toDF("lang", "doc_id", "n_tokens")
    val got = Sampling.packSequences(docs, "lang", "doc_id", "n_tokens", 512L)
      .select("lang", "doc_id", "seq_id").as[(String, Long, Long)]
      .collect().toSet
    // en: prefixes 0,300,600 -> seqs 0,0,1 ; de: prefixes 0,600 -> 0,1
    assert(got == Set(("en", 1L, 0L), ("en", 2L, 0L), ("en", 3L, 1L),
      ("de", 10L, 0L), ("de", 11L, 1L)))
  }

  test("repetitionProfile: duplicate and top bigram shares") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    // "a b a b a" -> bigrams: ab, ba, ab, ba (n=4, distinct=2, max=2)
    val df = Seq((1L, "a b a b a"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionProfile(df, "text", "doc_id").collect()
    assert(got.length == 1) // single-token doc emits nothing
    val r = got(0)
    assert(r.getAs[Long]("n_bigrams") == 4 && r.getAs[Long]("n_distinct_bigrams") == 2)
    assert(r.getAs[Long]("dup_ppm") == 500000L && r.getAs[Long]("top_ppm") == 500000L)
  }

  test("BPE: training learns the frequency-ordered merges and encode applies them") {
    import graft.ext.Bpe
    // classic toy vocab: "lo" wins round 1 (9+4+3 weighted), then "low".
    val wf = Seq(("low", 9L), ("lower", 4L), ("lowest", 3L), ("newer", 5L))
    val merges = Bpe.trainMerges(wf, 3)
    assert(merges.map(m => (m.symA, m.symB)) == Seq(("l", "o"), ("lo", "w"), ("e", "r")))
    assert(merges.head.pairCount == 16L)        // 9 + 4 + 3
    assert(merges(2).pairCount == 9L)           // lower(4) + newer(5)
    // encode via the same applyMerge chain: unseen word still encodes
    val seg = merges.foldLeft(Bpe.guardedSeg("lowered"))((s, m) =>
      Bpe.applyMerge(s, m.symA, m.symB))
    assert(seg.trim.split(" ").toSeq == Seq("low", "er", "e", "d"))
    // contract: single non-overlapping pass over the guarded string —
    // occurrences separated by another symbol both merge, but abutting
    // occurrences (which share a guard space) merge only the first
    // (identical to SQL replace(); canonical BPE would merge both)
    assert(Bpe.applyMerge(Bpe.guardedSeg("abcab"), "a", "b").trim == "ab c ab")
    assert(Bpe.applyMerge(Bpe.guardedSeg("abab"), "a", "b").trim == "ab a b")
    assert(Bpe.applyMerge(Bpe.guardedSeg("aaa"), "a", "a").trim == "aa a")
    assert(Bpe.trainMerges(Seq.empty, 5).isEmpty)
    assert(Bpe.trainMerges(Seq(("x", 7L)), 5).isEmpty) // 1-char word: no pairs
  }

  test("collapseTokenRuns: runs truncate to 2 keeping first; shorter runs untouched") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val df = Seq(
      (1L, "go go go go x go go"),   // run of 4 -> 2 (2 removed); trailing run of 2 kept
      (2L, "a a b b a"),             // no run over 2
      (3L, ""),                      // tokenless -> no row
      (4L, "z z z")).toDF("doc_id", "text")
    val got = TextAnalysis.collapseTokenRuns(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_clean")))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == ((7L, 2L, "go go x go go")))
    assert(got(2L) == ((5L, 0L, "a a b b a")))
    assert(got(4L) == ((3L, 1L, "z z")))
  }

  test("mixingPlan: integer-exact shares; over-budget cells downsample, empty keep all") {
    import spark.implicits._
    val df = Seq(
      ("en", "s0", 900L), ("en", "s0", 600L),  // cell 1500 tokens
      ("de", "s1", 100L),                      // cell 100 tokens
      ("zh", "s2", 0L))                        // empty cell
      .toDF("lang", "source", "n_tokens")
    val plan = Sampling.mixingPlan(df, "lang", "source", "n_tokens", 600L)
      .orderBy("lang").collect()
    val total = 1600L
    val byLang = plan.map(r => r.getAs[String]("lang") -> r).toMap
    assert(byLang("en").getAs[Long]("share_ppm") == 1000000L * 1500 / total)
    assert(byLang("en").getAs[Long]("cell_budget") == 200L) // 600 div 3 cells
    assert(byLang("en").getAs[Long]("sample_rate_ppm") == 1000000L * 200 / 1500)
    assert(byLang("de").getAs[Long]("sample_rate_ppm") == 1000000L) // under budget
    assert(byLang("zh").getAs[Long]("sample_rate_ppm") == 1000000L) // empty cell
  }

  test("funnel: strictly-ordered stages; out-of-order events don't count") {
    import spark.implicits._
    val ev = Seq(
      // user 1: proper view -> click -> purchase
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // user 2: purchase BEFORE the click -> reaches stage 2 only
      (2L, ts(10), "view"), (2L, ts(15), "purchase"), (2L, ts(20), "click"),
      // user 3: click with no prior view -> reaches nothing
      (3L, ts(5), "click"), (3L, ts(6), "purchase"),
      // user 4: click AT the view instant (not strictly after) -> stage 1
      (4L, ts(10), "view"), (4L, ts(10), "click"))
      .toDF("user_id", "t", "event_type")
    val counts = Funnel.funnelCounts(ev, "user_id", "t", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
    assert(counts.map(_.getAs[Long]("n_users")).toSeq == Seq(3L, 2L, 1L))
    // stage times: user 2's click at t20 is its stage-2 completion; no
    // purchase after t20 -> t2 null
    val st = Funnel.stageTimes(ev, "user_id", "t", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
    assert(st(1).getAs[java.sql.Timestamp]("t1") == ts(20))
    assert(st(1).isNullAt(st(1).fieldIndex("t2")))
  }

  test("splitAssign: deterministic, exhaustive, respects thresholds") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Sampling.splitAssign(d, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.splitAssign(d, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)                       // rerun-stable
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    val train = a.values.count(_ == "train")
    assert(train > 120 && train < 190)   // ~80% of 200, loose bound
    // degenerate rates: everything below threshold 0 is impossible
    val allTest = Sampling.splitAssign(d, "doc_id", 0.0, 0.0)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(allTest == Set("test"))
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(d, "doc_id", 0.8, 0.3)
    }
  }

  test("funnel: earlier-stage null forces later stages null") {
    import spark.implicits._
    val ev = Seq((7L, ts(1), "click"), (7L, ts(2), "purchase"))
      .toDF("user_id", "t", "event_type")
    val st = Funnel.stageTimes(ev, "user_id", "t", "event_type",
      Seq("view", "click", "purchase"))
    // user 7 never viewed: not even present in the stage table
    assert(st.count() == 0L)
  }

  test("poissonWeight: bounded, rerun-stable, and distributed like Poisson(1)") {
    import spark.implicits._
    val keys = (1L to 20000L).map(i => s"row$i|b").toDF("k")
    val w = keys.select(Sampling.poissonWeight(col("k")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.keys.forall(k => k >= 0L && k <= 10L), s"weight escaped [0,10]: $w")
    val n = w.values.sum.toDouble
    // P(w=0) = e^-1 ~ 0.3679; P(w=1) likewise; mean = 1. Loose 3-sigma
    // bounds at n=20000 (sigma(p-hat) ~ 0.0034, sigma(mean) ~ 0.0071).
    assert(math.abs(w.getOrElse(0L, 0L) / n - math.exp(-1)) < 0.015)
    assert(math.abs(w.getOrElse(1L, 0L) / n - math.exp(-1)) < 0.015)
    val mean = w.map { case (k, c) => k * c }.sum / n
    assert(math.abs(mean - 1.0) < 0.025, s"bootstrap mean drifted: $mean")
    // Rerun-stable: the draw is pure md5, no RNG state.
    val again = keys.select(Sampling.poissonWeight(col("k")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == w)
  }

  test("poissonWeight thresholds equal the Poisson(1) CDF to 2^-32") {
    // The literal hex table IS the operator's contract (no runtime
    // transcendentals); pin it to the series e^-1 * sum 1/k! so a typo
    // in a constant is a red test, not a silently skewed bootstrap.
    val hex = Sampling.poissonCdfHexForTest
    var term = math.exp(-1.0)
    var cdf = 0.0
    hex.zipWithIndex.foreach { case (h, k) =>
      cdf += term
      val got = java.lang.Long.parseLong(h, 16).toDouble / (1L << 32).toDouble
      // Each literal is the CDF rounded to 32 bits: within 2 ulps of 2^-32.
      assert(math.abs(got - cdf) < 2.0 / (1L << 32).toDouble,
        s"k=$k: hex $h -> $got but CDF is $cdf")
      term = term / (k + 1).toDouble
    }
  }

  test("bm25TopKQuantized: single-term query coincides with the fixed-order path") {
    // With ONE query term, floor-per-term-then-sum and sum-then-floor
    // are the same number — so the quantized (dynamic-term-set) path
    // must reproduce bm25TopKFromIndex row for row.
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val post = Ranking.postingsWithTf(docs, "text", "doc_id")
    val dls = Ranking.docLengths(docs, "text", "doc_id")
    try {
      val fixed = Ranking.bm25TopKFromIndex(post, dls, Seq("spark"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val quant = Ranking.bm25TopKQuantized(post, dls, Seq("spark"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(fixed.nonEmpty && fixed == quant)
      // Multi-term: quantized scores are a sum of per-term floors, so
      // each is within (n_terms - 1) of the fixed-order floor-of-sum.
      val f2 = Ranking.bm25TopKFromIndex(post, dls, Seq("spark", "merge"), 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val q2 = Ranking.bm25TopKQuantized(post, dls, Seq("spark", "merge"), 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      q2.foreach { case (doc, sq) =>
        f2.get(doc).foreach { sf =>
          assert(sq <= sf && sf - sq <= 1, s"doc $doc: $sq vs $sf")
        }
      }
    } finally graft.ops.TransientCache.releaseAll()
  }
}
