package graft

import graft.model.MemberCatalog
import graft.ops.ScaleOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("salted join returns exactly the plain-join rows") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select(col("o_orderkey").as("l_orderkey"),
      col("o_orderdate"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = ScaleOps.saltedJoin(li, o, "l_orderkey", salt = 4).count()
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // The runtime half of the skew story (q104 detects, q143 plans the
    // salt, q83 salts by hand): one hot key owns ~200k of 210k left
    // rows, so its shuffle partition dwarfs the median and AQE's skew
    // handler must split it — visible as skew=true on the SMJ in the
    // final adaptive plan. Thresholds are lowered to make the local
    // fixture register as skewed; on a real cluster the defaults (256MB)
    // play the same role.
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 210000L)
        .select(when(col("id") < 200000L, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 1000L).select(col("id").as("k"), lit("d").as("tag"))
      val joined = left.join(right, "k")
      // materialize THIS QueryExecution (count() would spawn its own,
      // leaving this one's adaptive plan un-executed and skew-free),
      // then assert on its final adaptive plan
      val n = joined.queryExecution.toRdd.count()
      // only the hot key lands in the right side's [0, 1000) key range
      assert(n == 200000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed partition:\n${p.take(4000)}")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bloom-pruned join returns exactly the plain-join rows (false positives removed)") {
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_extendedprice")
    val p = Tables.part(spark, sf).where(col("p_size") <= 2)
      .select("p_partkey", "p_brand")
    val plain = li.join(p, col("l_partkey") === col("p_partkey")).count()
    val pruned = ScaleOps.bloomPruneJoin(li, p, "l_partkey", "p_partkey").count()
    assert(pruned == plain)
    // A deliberately tiny, collision-heavy filter must STILL be exact —
    // the trailing join owns correctness, the bloom only owns pruning.
    val tiny = ScaleOps.bloomPruneJoin(li, p, "l_partkey", "p_partkey",
      log2Bits = 6, k = 2).count()
    assert(tiny == plain)
  }

  test("bloom filter has no false negatives and nontrivial pruning power") {
    import graft.functions.BloomCodec
    val keys = (0L until 2000L).map(_ * 7919L)
    val words = new Array[Long](1 << (16 - 6))
    keys.foreach(k => BloomCodec.add(words, (1 << 16) - 1, 5, k))
    val bloom = BloomCodec.decode(BloomCodec.encode(5, words))
    assert(keys.forall(BloomCodec.contains(bloom, _)), "false negative")
    // ~2k keys in 64k bits, k=5 → theoretical fp ≈ 0.2%; allow 2%.
    val probes = (1L to 20000L).map(_ * 104729L + 13L).filterNot(keys.contains)
    val fp = probes.count(BloomCodec.contains(bloom, _))
    assert(fp.toDouble / probes.size < 0.02, s"fp rate too high: $fp/${probes.size}")
  }

  test("empty build side yields an all-reject filter, not an error") {
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_extendedprice")
    val p = Tables.part(spark, sf).where(col("p_size") < -1)
      .select("p_partkey", "p_brand")
    assert(ScaleOps.bloomPruneJoin(li, p, "l_partkey", "p_partkey").count() == 0L)
  }

  test("bloom probe prunes the fact below its shuffle and stays in codegen") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q141_bloom_prune_join")(spark, sf)
        .queryExecution.executedPlan.toString
      // The probe must sit in the fact-side scan stage, i.e. appear
      // BEFORE (deeper than) the first exchange in the fact branch.
      assert(plan.contains("graft_bloom_contains"), s"probe missing:\n$plan")
      val probeIdx = plan.indexOf("graft_bloom_contains")
      val scanIdx = plan.indexOf("Scan parquet", probeIdx)
      assert(scanIdx > 0, s"probe not attached to the parquet scan stage:\n$plan")
      assert(!plan.substring(probeIdx, scanIdx).contains("Exchange"),
        s"an exchange sits between the bloom probe and the fact scan:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("approx_count_distinct tracks exact cardinality within 5% (A8 scale path)") {
    val m = MemberCatalog.members(spark, sf)
    val exact = m.select(countDistinct(col("MIEMBRO_UNIQUE_NAME"))).head().getLong(0)
    val approx = m.select(approx_count_distinct(col("MIEMBRO_UNIQUE_NAME")))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }
}
