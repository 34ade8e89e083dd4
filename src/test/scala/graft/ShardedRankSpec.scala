package graft

import graft.ops.ShardedRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ops.ShardedRank ≡ `row_number() OVER (PARTITION BY g ORDER BY k, tie)`
  * on exactly the shapes that break naive sharding: a single dominant
  * group (the q155 English-crawl case the range shard exists for), heavy
  * key ties (low-cardinality scores — the range boundaries must cut
  * through a hot key value), negative keys (negated-for-descending
  * callers), and a group so small it fits one partition. The reference
  * rank is Spark's own window — the semantics being replicated, fine to
  * use AS THE ORACLE at test size. */
class ShardedRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Deterministic LCG fixture: (grp, key, tie) with adjustable group
    * skew and key cardinality. tie is unique GLOBALLY (row index). */
  private def fixture(n: Int, groups: Int, keyCard: Int, seed: Long) = {
    import spark.implicits._
    var x = seed
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    (0 until n).map { i =>
      // 80% of rows in group 0 — the dominant-language shape.
      val r = math.floorMod(nxt(), 10L)
      val g = if (r < 8 || groups == 1) 0L else 1L + math.floorMod(nxt(), (groups - 1).toLong)
      val k = math.floorMod(nxt(), keyCard.toLong) - keyCard / 2 // negatives too
      (s"g$g", k, i.toLong)
    }.toDF("grp", "key", "tie")
  }

  private def check(n: Int, groups: Int, keyCard: Int, seed: Long): Unit = {
    val df = fixture(n, groups, keyCard, seed)
    val w = Window.partitionBy(col("grp")).orderBy(col("key"), col("tie"))
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy(col("grp"), col("rn"))
      .select("grp", "key", "tie", "rn").collect().toSeq
    val got = ShardedRank.withRank(df, Seq("grp"), col("key"), col("tie"), "rn")
      .orderBy(col("grp"), col("rn"))
      .select("grp", "key", "tie", "rn").collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(got == want, s"n=$n groups=$groups keyCard=$keyCard seed=$seed")
  }

  test("matches row_number: dominant group, heavy ties (keyCard 3)") {
    check(n = 500, groups = 4, keyCard = 3, seed = 7)
  }

  test("matches row_number: single group, moderate cardinality") {
    check(n = 300, groups = 1, keyCard = 40, seed = 11)
  }

  test("matches row_number: many groups, near-unique keys") {
    check(n = 400, groups = 12, keyCard = 5000, seed = 13)
  }

  test("matches row_number: constant key (all rows tie) — boundaries cut the tie run") {
    check(n = 200, groups = 2, keyCard = 1, seed = 17)
  }

  test("descending rank via negated key matches desc window") {
    val df = fixture(300, 3, 7, seed = 23)
    val w = Window.partitionBy(col("grp")).orderBy(col("key").desc, col("tie"))
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy(col("grp"), col("rn")).select("grp", "key", "tie", "rn")
      .collect().toSeq
    val got = ShardedRank.withRank(df, Seq("grp"), -col("key"), col("tie"), "rn")
      .orderBy(col("grp"), col("rn")).select("grp", "key", "tie", "rn")
      .collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(got == want)
  }

  test("global rank (empty grp) matches unpartitioned row_number") {
    val df = fixture(300, 3, 11, seed = 31)
    val w = Window.orderBy(col("key"), col("tie"))
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy(col("rn")).select("key", "tie", "rn").collect().toSeq
    val got = ShardedRank.withRank(df, Nil, col("key"), col("tie"), "rn")
      .orderBy(col("rn")).select("key", "tie", "rn").collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(got == want)
  }

  test("runningSum inclusive/exclusive match window prefix sums (incl. desc keys)") {
    val df = fixture(400, 3, 5, seed = 37).withColumn("x", (col("tie") % 7) + 1)
    for (excl <- Seq(false, true)) {
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("key").desc, col("tie"))
        .rowsBetween(Window.unboundedPreceding, if (excl) -1 else 0)
      val want = df
        .withColumn("run", coalesce(sum(col("x")).over(w), lit(0L)))
        .orderBy(col("grp"), col("key").desc, col("tie"))
        .select("grp", "key", "tie", "run").collect().toSeq
      val got = ShardedRank.runningSum(df, Seq("grp"),
          Seq(-col("key"), col("tie")), col("x"), "run", exclusive = excl)
        .orderBy(col("grp"), col("key").desc, col("tie"))
        .select("grp", "key", "tie", "run").collect().toSeq
      graft.ops.TransientCache.releaseAll()
      assert(got == want, s"exclusive=$excl")
    }
  }

  test("global runningSum (empty grp) matches unpartitioned prefix sum") {
    val df = fixture(250, 1, 9, seed = 41).withColumn("x", (col("tie") % 5) + 1)
    val w = Window.orderBy(col("key"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("run", coalesce(sum(col("x")).over(w), lit(0L)))
      .orderBy(col("key"), col("tie")).select("key", "tie", "run")
      .collect().toSeq
    val got = ShardedRank.runningSum(df, Nil, Seq(col("key"), col("tie")),
        col("x"), "run", exclusive = true)
      .orderBy(col("key"), col("tie")).select("key", "tie", "run")
      .collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(got == want)
  }

  test("withNtile matches ntile: grouped and global, uneven tile sizes") {
    val df = fixture(347, 4, 13, seed = 43) // 347 % 4 != 0 — uneven tiles
    val wg = Window.partitionBy(col("grp")).orderBy(col("key"), col("tie"))
    val wantG = df.withColumn("t", ntile(4).over(wg))
      .orderBy(col("grp"), col("key"), col("tie"))
      .select("grp", "key", "tie", "t").collect().toSeq
    val gotG = ShardedRank.withNtile(df, Seq("grp"), col("key"), col("tie"), 4, "t")
      .orderBy(col("grp"), col("key"), col("tie"))
      .select("grp", "key", "tie", "t").collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(gotG == wantG)
    val w = Window.orderBy(col("key"), col("tie"))
    val want = df.withColumn("t", ntile(10).over(w))
      .orderBy(col("key"), col("tie")).select("key", "tie", "t").collect().toSeq
    val got = ShardedRank.withNtile(df, Nil, col("key"), col("tie"), 10, "t")
      .orderBy(col("key"), col("tie")).select("key", "tie", "t").collect().toSeq
    graft.ops.TransientCache.releaseAll()
    assert(got == want)
  }

  test("small-input dispatch: window form under the threshold, sharded form at scale, identical ranks") {
    // Private session: the shared test session pins the threshold to 0
    // (plan-shape tests must audit the sharded path), and suites run in
    // parallel against it — conf flips must stay session-local.
    val s2 = spark.newSession()
    import s2.implicits._
    val df = (0 until 300).map(i => (s"g${i % 3}", (i * 7919) % 13, i.toLong))
      .toDF("grp", "key", "tie")

    def rangeExchanges(p: String): Int =
      "rangepartitioning".r.findAllIn(p.toLowerCase).size

    // Default threshold (4 MiB): a 300-row input dispatches to the
    // plain window — no range shuffle, no broadcast offset join.
    val small = ShardedRank.withRank(df, Seq("grp"), col("key"), col("tie"), "rn")
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(rangeExchanges(smallPlan) == 0 && !smallPlan.contains("BroadcastHashJoin"),
      s"small input must take the window form:\n$smallPlan")
    assert(WindowAudit.windowShapes(small.queryExecution.executedPlan).nonEmpty)

    // Threshold 0 (the at-scale posture): the same input shards.
    s2.conf.set(ShardedRank.smallInputKey, "0")
    val sharded = ShardedRank.withRank(df, Seq("grp"), col("key"), col("tie"), "rn")
    val shardedPlan = sharded.queryExecution.executedPlan.toString
    assert(rangeExchanges(shardedPlan) >= 1,
      s"threshold 0 must force the range-shard form:\n$shardedPlan")

    // Both paths produce identical ranks (and runningSums).
    val key = Seq("grp", "key", "tie")
    assert(sharded.orderBy(key.map(col): _*).collect().toSeq ==
      small.orderBy(key.map(col): _*).collect().toSeq)
    val x = col("tie") % 5 + 1
    val sumSharded = ShardedRank.runningSum(df.withColumn("x", x), Seq("grp"),
      Seq(col("key"), col("tie")), col("x"), "run", exclusive = true)
    s2.conf.set(ShardedRank.smallInputKey, ShardedRank.smallInputDefaultBytes.toString)
    val sumSmall = ShardedRank.runningSum(df.withColumn("x", x), Seq("grp"),
      Seq(col("key"), col("tie")), col("x"), "run", exclusive = true)
    graft.ops.TransientCache.releaseAll()
    assert(sumSharded.orderBy(key.map(col): _*).collect().toSeq ==
      sumSmall.orderBy(key.map(col): _*).collect().toSeq)
    assert(sumSharded.schema == sumSmall.schema,
      "dispatch paths must agree on output schema")
  }

  test("no per-group row-grain window: the only WindowExec is the bucket-grain offset table") {
    val df = fixture(400, 2, 3, seed = 29)
    val plan = ShardedRank.withRank(df, Seq("grp"), col("key"), col("tie"), "rn")
      .queryExecution.executedPlan
    val wins = WindowAudit.windowShapes(plan)
    graft.ops.TransientCache.releaseAll()
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.arity >= 1 && w.bounded,
        s"window $w over a non-aggregated input " +
          "— a per-group row-grain sort snuck back in")
    }
  }
}
