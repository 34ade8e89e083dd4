package graft

import graft.ext.{Components, Dedup, Ranking, Sampling, Similarity, TextAnalysis}
import graft.ops.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-row hardening: every pipeline operator must return an EMPTY
  * result on empty input — not throw from a driver-side head()/collect()
  * probe, a window over nothing, or a null aggregate. (A real pipeline
  * hits empty partitions constantly: a new corpus shard, a filter that
  * matched nothing, a stratum with no members.) */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def emptyDocs = {
    import spark.implicits._
    Seq.empty[(Long, String, String, String)].toDF("doc_id", "text", "lang", "source")
  }

  private def emptyEvents = {
    import spark.implicits._
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def emptyEmb = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    new StructType().add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType)).add("label", IntegerType))

  test("dedup family returns empty on an empty corpus") {
    assert(Dedup.exactGroups(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashSignaturesTyped(emptyDocs, "text", "doc_id").count() == 0)
    val emptySh = Dedup.shingleRows(emptyDocs, "text", "doc_id", 2)
    assert(Dedup.ngramJaccardPairsAutoFromShingles(emptySh, 1, 5).count() == 0)
    val emptyPrefix = Dedup.prefixPostings(emptySh, 4, 5)
    assert(emptyPrefix.count() == 0)
    assert(Dedup.verifyJaccardCandidates(emptySh,
      Dedup.ppjoinCandidatePairs(emptyPrefix, 4, 5), 4, 5).count() == 0)
    assert(Dedup.simhashComponents(
      Dedup.simhashSignatures(emptyDocs, "text", "doc_id")).count() == 0)
    val noSpans = Dedup.sharedSpans(emptyDocs, "text", "doc_id")
    assert(noSpans.count() == 0)
    assert(Dedup.removeSharedSpans(emptyDocs, noSpans, "text", "doc_id").count() == 0)
    assert(Dedup.sharedSpansChunked(emptyDocs, "text", "doc_id").count() == 0)
    assert(graft.ext.Multimodal.blockhashSignatures(
      graft.ext.Multimodal.mediaFromDocuments(emptyDocs)).count() == 0)
    assert(graft.ext.Multimodal.frameSegments(
      graft.ext.Multimodal.mediaFromDocuments(emptyDocs)).count() == 0)
    assert(TextAnalysis.chunkLangRows(emptyDocs, "text", "doc_id", 32).count() == 0)
    assert(TextAnalysis.collapseTokenRuns(emptyDocs, "text", "doc_id").count() == 0)
    // audio leg: empty corpus -> no samples, no landmarks, no matches
    val noMedia = graft.ext.Multimodal.audioFromDocuments(emptyDocs)
    assert(graft.ext.Multimodal.audioSampleRows(noMedia).count() == 0)
    assert(graft.ext.Multimodal.landmarkTable(noMedia).count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("similarity audits return empty on an empty embedding table") {
    assert(Similarity.jlTopK(emptyEmb, "vec_id", "embedding",
      col("vec_id") < 10).count() == 0)
    assert(Similarity.ivfAssignments(emptyEmb, "vec_id", "embedding").count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("components handles an empty edge set on both dispatch paths") {
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponentsAuto(noEdges, "a", "b").count() == 0)
    assert(Components.connectedComponents(noEdges, "a", "b").count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("text analysis and sampling return empty on an empty corpus") {
    assert(TextAnalysis.withTokenProfile(emptyDocs, "text").count() == 0)
    assert(TextAnalysis.chunkWindows(emptyDocs, "text", "doc_id", 8, 6).count() == 0)
    assert(TextAnalysis.repetitionProfile(emptyDocs, "text", "doc_id").count() == 0)
    assert(TextAnalysis.invertedPostings(emptyDocs, "text", "doc_id").count() == 0)
    assert(Ranking.bm25TopK(emptyDocs, "text", "doc_id", Seq("spark"), 5).count() == 0)
    assert(Sampling.stratifiedSample(emptyDocs, "doc_id", "lang",
      Seq("en" -> 0.5), 0.1).count() == 0)
    assert(Sampling.mixingPlan(emptyDocs.withColumn("n_tokens", lit(1L)),
      "lang", "source", "n_tokens", 1000L).count() == 0)
    assert(Sampling.packSequences(emptyDocs.withColumn("n_tokens", lit(1L)),
      "lang", "doc_id", "n_tokens", 512L).count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("temporal joins return empty when either side is empty") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001").limit(20)
    assert(AsOfJoin.asOfInner(emptyEvents, ev, "user_id", "ts",
      Seq("event_id"), "event_id").count() == 0)
    assert(RangeJoin.pairsWithinAfter(ev, emptyEvents, "user_id", "ts", "ts",
      1000000L, Seq("event_id")).count() == 0)
    assert(RangeJoin.pairsWithinAfter(emptyEvents, ev, "user_id", "ts", "ts",
      1000000L, Seq("event_id")).count() == 0)
  }

  test("similarity family returns empty on an empty embedding table") {
    assert(Similarity.bruteForceTopK(emptyEmb, "vec_id", "embedding",
      col("vec_id") < 10, 5).count() == 0)
    assert(Similarity.knnGraph(emptyEmb, "vec_id", "embedding", 3, 16).count() == 0)
    assert(Similarity.nearDupPairs(emptyEmb, "vec_id", "embedding", "label")
      .count() == 0)
    assert(Similarity.graphBeamSearch(emptyEmb, "vec_id", "embedding",
      Similarity.knnGraph(emptyEmb, "vec_id", "embedding", 3, 16),
      col("vec_id") < 10).count() == 0)
    assert(Similarity.bridgeEdges(emptyEmb, "vec_id", "embedding").count() == 0)
    graft.ops.TransientCache.releaseAll()
  }

  test("bucketed prefix scan returns empty on empty input, exact on tiny input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("k", "x")
    assert(graft.ops.BucketedPrefix.runningSums(empty, "k", Seq("x"), 8L)
      .count() == 0)
    assert(graft.ops.BucketedPrefix
      .runningMaxExclusive(empty, "k", Seq("x"), 8L).count() == 0)
    // Tiny equivalence pin vs the single-partition window the op
    // replaces — unique keys spanning several buckets, including an
    // empty bucket gap.
    val df = Seq((0L, 5L), (1L, 2L), (7L, 9L), (8L, 1L), (33L, 4L), (34L, 9L))
      .toDF("k", "x")
    val runs = graft.ops.BucketedPrefix.runningSums(df, "k", Seq("x"), 8L)
      .orderBy("k").select("run_x").collect().map(_.getLong(0)).toSeq
    assert(runs == Seq(5L, 7L, 16L, 17L, 21L, 30L))
    val maxes = graft.ops.BucketedPrefix
      .runningMaxExclusive(df, "k", Seq("x"), 8L)
      .orderBy("k").select("run_x").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(maxes == Seq(-1L, 5L, 5L, 9L, 9L, 9L))
  }

  test("corpus-hygiene and analytics operators return empty on empty input") {
    import graft.ext.{Clustering, Contamination}
    import graft.ops.Funnel
    assert(Contamination.benchmarkOverlap(emptyDocs, emptyDocs,
      "text", "doc_id", 2).count() == 0)
    assert(Contamination.duplicateGramShare(emptyDocs, "text", "doc_id", 2)
      .count() == 0)
    assert(TextAnalysis.vocabTopK(emptyDocs, "text", "doc_id", 5).count() == 0)
    assert(TextAnalysis.topTermsPerGroup(emptyDocs, "text", "doc_id",
      "source", 5).count() == 0)
    assert(TextAnalysis.intHistogram(emptyDocs.withColumn("n", lit(1L)),
      "n", "lang", 64L, 16).count() == 0)
    assert(TextAnalysis.withPiiRedaction(emptyDocs, "text").count() == 0)
    assert(Clustering.kmeansTwoPass(emptyEmb, "vec_id", "embedding", 4)
      .count() == 0)
    assert(Dedup.newContentOnly(emptyDocs, emptyDocs, "text", "doc_id")
      .count() == 0)
    assert(Funnel.stageTimes(emptyEvents, "user_id", "ts", "event_type",
      Seq("view", "click")).count() == 0)
    assert(Funnel.funnelCounts(emptyEvents, "user_id", "ts", "event_type",
        Seq("view", "click")).collect()
      .forall(_.getAs[Long]("n_users") == 0L)) // summary rows exist, all zero
    assert(Sampling.splitAssign(emptyDocs, "doc_id", 0.8, 0.1).count() == 0)
    graft.ops.TransientCache.releaseAll()
  }
}
