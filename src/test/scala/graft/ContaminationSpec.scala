package graft

import graft.ext.{Components, Contamination, Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for the corpus-hygiene operators (decontamination,
  * duplicate-gram share, vocabulary head) on hand-checkable fixtures:
  * gram distinctness, short/NULL docs, ppm arithmetic, rank ties. */
class ContaminationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("benchmarkOverlap: counts distinct-gram hits; short docs drop") {
    val cand = docs(
      1L -> "a b c d",       // bigrams: ab, bc, cd
      2L -> "x y x y x",     // bigrams (distinct): xy, yx
      3L -> "solo")          // < 2 tokens -> no grams -> absent
    val bench = docs(10L -> "b c d e", 11L -> "x y z")
    val got = Contamination.benchmarkOverlap(cand, bench, "text", "doc_id", 2)
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    // doc 1: grams {a b, b c, c d}; bench has {b c, c d, d e, x y, y z} -> 2 hits
    assert(got(0).getAs[Long]("n_grams") == 3L)
    assert(got(0).getAs[Long]("n_hit") == 2L)
    assert(got(0).getAs[Long]("hit_ppm") == 666666L)
    // doc 2: distinct grams {x y, y x}; only "x y" in bench
    assert(got(1).getAs[Long]("n_grams") == 2L)
    assert(got(1).getAs[Long]("n_hit") == 1L)
    assert(got(1).getAs[Long]("hit_ppm") == 500000L)
  }

  test("duplicateGramShare: repeated-in-one-doc grams count once; minDf") {
    val d = docs(
      1L -> "a b a b",   // distinct bigrams: {a b, b a}
      2L -> "a b c",     // {a b, b c}
      3L -> "q r s")     // {q r, r s} — nothing shared
    val got = Contamination.duplicateGramShare(d, "text", "doc_id", 2)
      .orderBy("doc_id").collect()
    // "a b" is the only gram with df >= 2 (df counts docs, not occurrences)
    assert(got(0).getAs[Long]("n_grams") == 2L &&
      got(0).getAs[Long]("n_shared") == 1L &&
      got(0).getAs[Long]("shared_ppm") == 500000L)
    assert(got(1).getAs[Long]("n_shared") == 1L)
    assert(got(2).getAs[Long]("n_shared") == 0L &&
      got(2).getAs[Long]("shared_ppm") == 0L)
  }

  test("vocabTopK: freq/doc_freq split, tie rank by token, k cap") {
    val d = docs(
      1L -> "b b a",
      2L -> "a c b",
      3L -> (null: String))  // NULL text contributes nothing
    val got = TextAnalysis.vocabTopK(d, "text", "doc_id", 2)
      .orderBy("rank").collect()
    assert(got.length == 2)
    // b: freq 3 (2 docs); a: freq 2 (2 docs); c: freq 1 — cut by k=2
    assert(got(0).getAs[Int]("rank") == 1 &&
      got(0).getAs[String]("token") == "b" &&
      got(0).getAs[Long]("freq") == 3L &&
      got(0).getAs[Long]("doc_freq") == 2L)
    assert(got(1).getAs[String]("token") == "a" &&
      got(1).getAs[Long]("freq") == 2L)
  }

  test("vocabTopK: equal-frequency ties rank lexicographically") {
    val d = docs(1L -> "z y x")
    val got = TextAnalysis.vocabTopK(d, "text", "doc_id", 3)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[String]("token")).toSeq == Seq("x", "y", "z"))
  }

  test("withPiiRedaction: sequential redaction, per-stage counts, hash") {
    val d = docs(
      1L -> "mail a.user+tag@example.co.uk then call 12345678 at 10.0.0.1",
      2L -> "clean text only",
      3L -> "ip 192.168.0.255 twice 192.168.0.254 and digits 123456 only six")
    val got = TextAnalysis.withPiiRedaction(d, "text")
      .orderBy("doc_id").collect()
    // doc 1: one email (greedy TLD match), one ip, one 8-digit run
    assert(got(0).getAs[Int]("n_email") == 1)
    assert(got(0).getAs[Int]("n_ipv4") == 1)
    assert(got(0).getAs[Int]("n_digit_run") == 1)
    // doc 2: untouched — hash equals md5 of the original text
    assert(got(1).getAs[Int]("n_email") == 0 &&
      got(1).getAs[Int]("n_ipv4") == 0 && got(1).getAs[Int]("n_digit_run") == 0)
    val clean = java.security.MessageDigest.getInstance("MD5")
      .digest("clean text only".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1).getAs[String]("redacted_hash") == clean)
    // doc 3: two ips; the 6-digit run is below the 7+ threshold
    assert(got(2).getAs[Int]("n_ipv4") == 2)
    assert(got(2).getAs[Int]("n_digit_run") == 0)
  }

  test("withPiiRedaction: digit runs inside an email are not double-counted") {
    val d = docs(1L -> "reach 12345678@example.com now")
    val got = TextAnalysis.withPiiRedaction(d, "text").collect()(0)
    // the email (including its digits) redacts first; nothing remains
    // for the digit-run pass
    assert(got.getAs[Int]("n_email") == 1)
    assert(got.getAs[Int]("n_digit_run") == 0)
  }

  test("canonicalPerComponent: keep-best ranking, id tiebreak, sizes") {
    import spark.implicits._
    val membership = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L))
      .toDF("doc", "comp")
    val scores = Seq((10L, 5L), (11L, 9L), (12L, 9L), (20L, 3L), (21L, 3L))
      .toDF("doc_id", "quality")
    val got = Components.canonicalPerComponent(
        membership, "doc", "comp", scores, "doc_id", "quality")
      .orderBy("comp", "rank").collect()
    // comp 1: quality 9 tie between 11 and 12 -> lower id first
    assert(got(0).getAs[Long]("doc") == 11L && got(0).getAs[Int]("rank") == 1)
    assert(got(1).getAs[Long]("doc") == 12L && got(1).getAs[Int]("rank") == 2)
    assert(got(2).getAs[Long]("doc") == 10L && got(2).getAs[Int]("rank") == 3)
    assert(got(0).getAs[Long]("n_in_component") == 3L)
    // comp 2: tie at 3 -> doc 20 wins
    assert(got(3).getAs[Long]("doc") == 20L && got(3).getAs[Int]("rank") == 1)
    assert(got(3).getAs[Long]("n_in_component") == 2L)
  }

  test("canonicalPerComponent: unscored members rank last, still counted") {
    import spark.implicits._
    val membership = Seq((10L, 1L), (11L, 1L)).toDF("doc", "comp")
    val scores = Seq((10L, 5L)).toDF("doc_id", "quality") // doc 11 unscored
    val got = Components.canonicalPerComponent(
        membership, "doc", "comp", scores, "doc_id", "quality")
      .orderBy("rank").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("doc") == 10L && got(0).getAs[Int]("rank") == 1)
    assert(got(1).getAs[Long]("doc") == 11L && got(1).getAs[Int]("rank") == 2 &&
      got(1).isNullAt(got(1).fieldIndex("quality")))
    assert(got.forall(_.getAs[Long]("n_in_component") == 2L))
  }

  test("intHistogram: edge values bucket exactly; overflow tail capped") {
    import spark.implicits._
    val d = Seq(("a", -5L), ("a", 0L), ("a", 63L), ("a", 64L), ("a", 10000L),
      ("b", 128L)).toDF("grp", "v")
    val got = TextAnalysis.intHistogram(d, "v", "grp", 64L, 16)
      .orderBy("grp", "bucket").collect()
    // a: negative clamps to bucket 0 alongside [0,63] (3 rows); 64 ->
    // bucket 1; 10000 -> capped 15
    assert(got(0).getAs[Int]("bucket") == 0 && got(0).getAs[Long]("n") == 3L &&
      got(0).getAs[Long]("lo") == -5L && got(0).getAs[Long]("hi") == 63L)
    assert(got(1).getAs[Int]("bucket") == 1 && got(1).getAs[Long]("n") == 1L)
    assert(got(2).getAs[Int]("bucket") == 15 && got(2).getAs[Long]("hi") == 10000L)
    assert(got(3).getAs[String]("grp") == "b" && got(3).getAs[Int]("bucket") == 2)
  }

  test("newContentOnly: anti-join keeps only unseen content") {
    val newDocs = docs(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val oldDocs = docs(90L -> "alpha", 91L -> "alpha", 92L -> "delta")
    val got = Dedup.newContentOnly(newDocs, oldDocs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 3L))
  }

  test("topTermsPerGroup: group-local tf, corpus-global idf, rank ties") {
    val d = docs(1L -> "aa bb", 2L -> "aa cc", 3L -> "aa dd")
      .withColumn("src", when(col("doc_id") === 1L, "s1").otherwise("s2"))
    val got = TextAnalysis.topTermsPerGroup(d, "text", "doc_id", "src", 2)
      .orderBy("src", "rank").collect()
    // "aa" appears in all 3 docs -> idf = ln(1) = 0 -> score 0; the
    // group-unique terms rank first on positive idf
    val s1 = got.filter(_.getAs[String]("src") == "s1")
    assert(s1.head.getAs[String]("token") == "bb")
    assert(s1.head.getAs[Long]("score_q") == math.floor(1000.0 * math.log(3.0)).toLong)
    val s2 = got.filter(_.getAs[String]("src") == "s2")
    // cc/dd tie on score -> lexicographic
    assert(s2.map(_.getAs[String]("token")).toSeq == Seq("cc", "dd"))
  }

  test("empty inputs produce empty, well-typed results") {
    val e = docs()
    assert(Contamination.benchmarkOverlap(e, e, "text", "doc_id", 2).count() == 0L)
    assert(Contamination.duplicateGramShare(e, "text", "doc_id", 2).count() == 0L)
    assert(TextAnalysis.vocabTopK(e, "text", "doc_id", 5).count() == 0L)
  }
}
