package graft

import graft.ext.Similarity
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB must
  * hold in the actual plans, not just in comments. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  // A session artifact reads as an InMemoryTableScan whose relation
  // prints the artifact's build plan as an inner child, so every
  // structural pin below still audits the full construction.
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Does the plan read a session-materialized artifact? */
  private def readsArtifact(p: String): Boolean =
    p.contains("InMemoryRelation") || p.contains("InMemoryTableScan")

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("q02: relational pivot is served from the pre-aggregate (materialized-view rewrite)") {
    val p = plan("q02_revenue_by_nation")
    // The covering-aggregate rewrite routes the SQL-shaped pivot through
    // the same session-materialized base grain the MDX navigator uses —
    // the plan reads the cached table, not the fact star join.
    assert(readsArtifact(p),
      s"q02 not served from the pre-aggregate:\n$p")
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q02: the artifact scan reads only the 3 columns q02 uses, not all 11") {
    val p = plan("q02_revenue_by_nation")
    // The consumer's own scan prints first; the artifact's build plan
    // follows as the InMemoryRelation's inner child.
    val scan = p.linesIterator.find(_.contains("InMemoryTableScan"))
      .getOrElse(fail(s"q02 reads no session artifact:\n$p"))
    val cols = "\\[([^\\]]*)\\]".r.findFirstMatchIn(scan).get.group(1)
      .split(",").map(_.trim.replaceAll("#\\d+L?$", "")).toSet
    assert(cols == Set("r_name", "n_name", "sum_disc_price"),
      s"artifact scan is not pruned to q02's columns:\n$p")
  }

  test("q01/q16: column pruning reaches the scan (no full-width read)") {
    val p = plan("q16_orders_by_year")
    assert(p.contains("ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp"),
      s"scan reads more than the 2 needed columns:\n$p")
  }

  test("MDX navigated queries roll up the session pre-aggregate, not the fact") {
    val p = plan("q30_mdx_nation_revenue")
    // Aggregate navigation: the plan reads the cached base-grain table
    // (InMemoryRelation) and re-aggregates — partial agg still map-side.
    assert(readsArtifact(p),
      s"q30 not served from the pre-aggregate:\n$p")
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q37: supplier pivot rolls up the suppgeo pre-aggregate, not the fact") {
    // Round-5: supplier geo gained its own aggregate (CubeDef.preAggs
    // "suppgeo", |supp nations|×|months| grain) — the pivot reads the
    // cached table and re-aggregates instead of re-scanning lineitem.
    val p = plan("q37_mdx_supplier_nation")
    assert(readsArtifact(p),
      s"q37 not served from the suppgeo pre-aggregate:\n$p")
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("MDX non-navigated path attaches only referenced join units + broadcasts") {
    // Part leaf x supplier nation within one brand fits no declared grain
    // (no grain holds the part leaf) -> raw-fact path: only the part and
    // suppgeo units' scans, dims broadcast, no unreferenced table
    // (customer).
    val p = graft.mdx.MdxLowerer.run(spark, sf,
      """SELECT {[Measures].[sum_qty]} ON COLUMNS,
        | NON EMPTY CROSSJOIN([Part].[ByBrand].[Part].MEMBERS,
        |   [Supplier].[Geo].[Nation].MEMBERS) ON ROWS
        |FROM [Sales]
        |WHERE ([Part].[ByBrand].[Brand].&[Brand#13])""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(!readsArtifact(p),
      s"an uncovered pivot has no pre-aggregate to navigate to:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
    assert(!p.contains("customer.parquet"),
      s"unreferenced dimension scanned:\n$p")
  }

  test("q124 stemmed index: one scan, no joins, map-side partial aggregate") {
    // The lexeme index is a typed flatMap over the corpus scan + one
    // aggregate: stemming must add NO exchanges beyond the groupBy's.
    // The scan count comes from the census, which walks only the plans
    // that ran: the plan text prints the artifact build's FileScan again
    // under its AQE "== Initial Plan ==".
    val qe = SparkEntry.queries("q124_fts_stemmed_index")(spark, sf).queryExecution
    val scans = PlanAudit.census(qe).scans
    val p = qe.executedPlan.toString
    assert(!p.contains("Join"), s"stemmed postings must not join:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(scans == 1, s"lexeme index should read the corpus exactly once:\n$p")
  }

  test("q123 stemmed search: postings lookup joins doc attrs broadcast, stems filter before the aggregate") {
    val p = plan("q123_fts_stemmed_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // needle stems are an in-plan isin filter, evaluated before the
    // per-doc hit count — never a full-corpus contains scan
    assert(p.contains("stem#") && p.contains("IN ("), s"no stem-set filter:\n$p")
  }

  test("q53 as-of: a single key exchange + window, never a join pair blow-up") {
    val p = plan("q53_events_asof")
    assert(!p.contains("Join"), s"as-of lowered to a join (pair blow-up shape):\n$p")
    assert(p.contains("Window"), s"no running-window pass:\n$p")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"as-of should shuffle exactly once (on the key):\n$p")
  }

  test("q71 retention: distinct-first, cohort side broadcast, no extra exchange") {
    // r4→r5 bench drift on this query (0.43→0.54 s) was audited in round 6:
    // no plan change, local[32] noise. This pins the audited shape — at most
    // 2 hash exchanges (the (user,week) distinct and the final cohort
    // grouping; the per-user cohort min rides the distinct's partitioning)
    // and a broadcast join for the cohort side, never a sort-merge join.
    val p = plan("q71_retention_cohorts")
    assert(p.contains("BroadcastHashJoin"),
      s"cohort join should broadcast the per-user minima:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"cohort join must not shuffle both sides:\n$p")
    val hashEx = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(hashEx <= 3, s"retention grew an extra shuffle (hash exchanges=$hashEx):\n$p")
  }


  test("q132 spans: postings equi-join on the 60-bit key, no cartesian/BNLJ") {
    val p = plan("q132_shared_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span pairing fell back to an unbounded pair shape:\n$p")
    assert(p.contains("hashpartitioning"), p)
  }

  test("q133 DSIR: the bucket model joins broadcast onto the doc profiles") {
    val p = plan("q133_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the 512-row lambda model must broadcast, not shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q135 hybrid RRF: the query vector broadcasts against the candidate scan") {
    val p = plan("q135_hybrid_rrf")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"semantic leg should broadcast the single query vector:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q59 range join: banded equi-join, no cartesian/BNLJ/theta shape") {
    val p = plan("q59_click_conversions")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to an unbounded pair shape:\n$p")
    assert(p.contains("hashpartitioning"), p)
  }

  test("q56 sampling: map-side only — zero exchanges before the output sort") {
    val p = plan("q56_sample_stratified")
    // The only allowed exchange is the final ORDER BY's range partitioning.
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling filter should not shuffle:\n$p")
  }

  test("q55 BM25: top-k lowers to TakeOrdered over the scored candidates") {
    val p = plan("q55_fts_bm25")
    assert(p.contains("TakeOrdered"), s"BM25 top-k runs a full sort:\n$p")
    graft.ops.TransientCache.releaseAll()
  }

  test("q36/q31: no sort-merge join on a broadcastable dimension side") {
    Seq("q36_mdx_month_drill", "q31_mdx_crossjoin_slicer").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dims not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: sort-merge join where a broadcast was expected:\n$p")
    }
  }

  test("q49: inverted-index search is a postings equi-join, no cartesian/BNLJ") {
    val p = plan("q49_fts_inverted")
    assert(p.contains("HashAggregate"), s"no candidate-AND aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the postings path:\n$p")
    // The term IN-list predicate must reach the scan side of the postings
    // explode, not run post-join.
    assert(p.contains("term"), p)
  }

  test("top-k lowers to TakeOrdered, not a full sort") {
    val p = plan("q08_topk_longest")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q64 decontamination: benchmark gram set joins broadcast") {
    val p = plan("q64_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"gram join fell back to SMJ:\n$p")
  }

  test("partitioned corpus layout prunes non-matching partitions at scan") {
    val dir = java.nio.file.Files.createTempDirectory("part_docs").toString
    val docs = Tables.documents(spark, sf)
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).where(col("lang") === "en")
    val p = read.queryExecution.executedPlan.toString
    // The predicate must be INSIDE the PartitionFilters list — a scan
    // prints `PartitionFilters: []` (and lists `lang` in its output)
    // even when nothing prunes, so contains-checks alone are vacuous.
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"lang predicate not in PartitionFilters:\n$p")
    val n = read.count()
    assert(n > 0 && n == docs.where(col("lang") === "en").count())
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // The runtime counterpart of the static PartitionFilters assertion
    // above: the fact's partition-column predicate is NOT in the query —
    // it exists only as a filter on the joined dim — so pruning can only
    // happen via DPP (the dim's broadcast result re-used as a
    // dynamicpruning subquery inside the fact scan's PartitionFilters).
    // At 100 TB this is the star-join scan killer: the fact reads only
    // the partitions the filtered dim can possibly match.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dpp_fact").toString
    val fact = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    fact.write.mode("overwrite").partitionBy("lang").parquet(dir)
    // the dim must be a real scan (a LocalRelation's filter constant-
    // folds away, and DPP requires a selective predicate on the build
    // side to survive into the optimized plan)
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    Seq(("en", 1L), ("fr", 2L), ("es", 3L)).toDF("lang", "grp")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(dim.where(col("grp") === 1L), "lang")
    val expected = fact.where(col("lang") === "en").count()
    assert(joined.count() == expected && expected > 0)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan has no dynamicpruning PartitionFilter:\n$p")
  }

  test("bucketed tables join with zero exchange (co-located join)") {
    // Pre-clean: a previous JVM killed mid-test leaves managed-table
    // files under the persistent warehouse dir, which would fail
    // saveAsTable with LOCATION_ALREADY_EXISTS on the next run.
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
      f.delete()
    }
    Seq("bkt_lineitem_t", "bkt_orders_t").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmrf(new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse/$t"))
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable("bkt_lineitem_t")
      Tables.orders(spark, sf)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
        .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable("bkt_orders_t")
      // force the shuffle-join path so the assertion is about bucketing,
      // not about a broadcast hiding the exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_lineitem_t")
        .join(spark.table("bkt_orders_t"), "l_orderkey")
      joined.queryExecution.toRdd.count()
      val p = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), s"expected the SMJ path:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still exchanged:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem_t")
      spark.sql("DROP TABLE IF EXISTS bkt_orders_t")
    }
  }

  test("q74 snapshot delta: hash anti-join, no cartesian/BNLJ") {
    val p = plan("q74_snapshot_delta")
    assert(p.contains("LeftAnti"), s"no anti-join in the delta plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("graft_dot is a codegen'd native expression and matches the HOF form") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(-2L, 0L, 7L), Array(3L, 9L, -1L))).toDF("a", "b")
    val native = df.select(Similarity.dotQ(col("a"), col("b"))).collect().map(_.getLong(0))
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (s, v) => s + v))
      .collect().map(_.getLong(0))
    assert(native.toSeq == hof.toSeq && native.toSeq == Seq(32L, -13L))
    val p = df.select(Similarity.dotQ(col("a"), col("b"))).queryExecution.executedPlan
    assert(p.toString.contains("graft_dot"))
  }

  test("graft_dot registers via SparkSessionExtensions (deployment path)") {
    // The spark.sql.extensions deployment path: session construction
    // applies the builder to its function registry. The probe exercises
    // that exact hook against a fresh registry (building a second real
    // session in-JVM would share — and on stop, kill — the test context).
    val names = org.apache.spark.sql.GraftExtensionsProbe
      .registeredNames(new graft.functions.GraftExtensions)
    assert(names.contains("graft_dot"))
    // End-to-end SQL evaluation of the same builder's function.
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1L,2L,3L), array(4L,5L,6L)) v")
      .collect().head.getLong(0) == 32L)
  }

  test("ANN plans broadcast the query side against the candidate scan") {
    val p = plan("q27_ann_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q88 pivot: one aggregate pair over broadcast dims, no value-discovery scan") {
    val p = plan("q88_pivot_priority")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // explicit value list -> the orders fact is scanned exactly once
    assert(p.sliding("orders.parquet".length)
      .count(_ == "orders.parquet") == 1,
      s"pivot scanned the fact more than once:\n$p")
  }

  test("q89 gopher rules: map-side only — no hash exchange before the output sort") {
    // The shared profile artifact's BUILD legitimately carries the r12
    // post-read fan-out exchange (ops.Fanout — the stored lineage is
    // printed inside the InMemoryRelation node); the pin guards the
    // QUERY above the cached artifact, so assert on the truncated plan.
    val p = plan("q89_gopher_rules")
    val aboveArtifact = p.split("InMemoryRelation", 2)(0)
    assert(!aboveArtifact.contains("Exchange hashpartitioning"),
      s"quality flags should not shuffle:\n$p")
  }

  test("q90 regression: moment sums are one partial-agg pass over broadcast dims") {
    val p = plan("q90_price_regression")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("q91 gap-fill: the calendar grid broadcasts against the daily aggregate") {
    val p = plan("q91_daily_gapfill")
    // types × calendar is a broadcast product; the daily agg still
    // partial-aggregates map-side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"grid not broadcast:\n$p")
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin"), s"grid join fell back to SMJ:\n$p")
  }

  test("q92 block dedup: hash-keyed window + per-doc agg, bounded exchanges") {
    val p = plan("q92_block_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"block dedup should be window+agg, not a join:\n$p")
    // one exchange for the block_hash window, one for the doc_id agg
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") <= 2,
      s"more exchanges than the two key passes:\n$p")
  }

  test("q101 weighted sample: selection lowers to TakeOrdered, keys map-side") {
    val p = plan("q101_weighted_sample")
    assert(p.contains("TakeOrdered"), s"A-ES selection runs a full sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"key computation should not shuffle:\n$p")
  }

  test("q102 interval lookup: as-of path — window pass, never a theta join") {
    val p = plan("q102_interval_lookup")
    assert(!p.contains("Join"),
      s"interval lookup lowered to a join (pair blow-up shape):\n$p")
    assert(p.contains("Window"), s"no as-of window pass:\n$p")
  }

  test("q157 audio fingerprint: landmark build is window passes, pair join " +
    "is an equi-join — never a cartesian/BNLJ") {
    val p = plan("q157_audio_fingerprint")
    assert(p.contains("Window"), s"no window pass (peak picking lost):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join left the landmark bucket:\n$p")
    // the landmark table must materialize ONCE and feed all three
    // consumers (pair sides a/b + the frequency cap) from cache — the
    // plan reads InMemoryRelation, not three rebuilds of the sample
    // stream (the raw exchange count in the printed tree is misleading:
    // each InMemoryRelation re-prints its build lineage)
    assert(readsArtifact(p),
      s"landmark table not materialized for reuse:\n$p")
  }

  test("q160 cube: grouping sets expand AFTER the partial aggregate, no join") {
    val p = plan("q160_cube_grouping")
    assert(p.contains("Expand"), s"no grouping-set Expand:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("Join"), s"cube should be scan+expand+agg only:\n$p")
  }

  test("q161 CUSUM: running stats are window passes over the daily grain, " +
    "no self-join, no cartesian") {
    val p = plan("q161_cusum_changepoint")
    assert(p.contains("Window"), s"prefix-sum identity lost (no window):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"CUSUM planned a product:\n$p")
    // the recursion must NOT have been lowered to a range self-join of
    // the daily series against itself
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).length
    assert(joins <= 1, s"more than the one stats join:\n$p")
  }

  test("q183 cascade: stage flags are key exchanges + joins, never a product") {
    val p = plan("q183_dedup_cascade")
    assert(!p.contains("CartesianProduct"), s"cartesian in the cascade:\n$p")
    assert(p.contains("hashpartitioning(content_hash"),
      s"exact stage not partitioned on the content key:\n$p")
    assert(p.contains("hashpartitioning(simhash"),
      s"simhash stage not partitioned on the signature:\n$p")
  }

  test("q186 exclusivity: gram-key partial aggregation, no product") {
    val p = plan("q186_source_exclusivity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exclusivity planned a product:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q187 MRR: BM25 legs lower to TakeOrdered; 1-row metric joins broadcast") {
    val p = plan("q187_retrieval_mrr")
    assert(p.contains("TakeOrdered"),
      s"bm25 top-k did not lower to TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"metric combination planned a cartesian (must broadcast 1-row aggs):\n$p")
  }

  test("q190 packing sweep: sharded prior-sum, ctx sweep adds no join beyond the offset attach") {
    val p = plan("q190_packing_efficiency")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sweep planned a product:\n$p")
    // The ONLY join is ShardedRank.runningSum's broadcast offset attach
    // (per-(partition, lang) prefix totals); the ctx sweep itself stays
    // explode+predicate. A shuffle-side join here would mean the sweep
    // regressed to a join shape.
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).isEmpty,
      s"ctx sweep must be explode+predicate, not a shuffle join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"expected exactly the sharded-prefix offset broadcast:\n$p")
  }

  test("q191 basket lift: distinct-first self-join on the user key, no product") {
    val p = plan("q191_basket_lift")
    assert(!p.contains("CartesianProduct"),
      s"pair expansion planned a cartesian:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"type-set self-join not keyed on user_id:\n$p")
  }

  test("q192 Spearman: one sharded rank pass over the unpivoted signals, no profile self-join") {
    val p = plan("q192_spearman_quality_length")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank correlation planned a product:\n$p")
    // Both signal ranks come from ONE ShardedRank pass (its broadcast
    // offset attach is the only join); a shuffle join would mean the
    // ranks regressed to a profile self-join.
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).isEmpty,
      s"rho must come from the sharded rank, not a shuffle join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"expected exactly the sharded-rank offset broadcast:\n$p")
  }

  test("q193 mixing realized: the cells-sized plan joins broadcast") {
    val p = plan("q193_mixing_realized")
    assert(p.contains("BroadcastHashJoin"),
      s"plan table must broadcast onto the doc scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q204 bootstrap: replicate expansion is map-side, means aggregate with partials") {
    val p = plan("q204_bootstrap_ci")
    assert(!p.contains("CartesianProduct"),
      s"bootstrap planned a cartesian:\n$p")
    assert(p.contains("Generate explode"),
      s"replicate expansion must be a map-side explode:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q205 jackknife: residual table is a broadcast cross of a tiny source list") {
    val p = plan("q205_source_influence")
    assert(!p.contains("CartesianProduct"),
      s"the source cross must ride a broadcast, never a cartesian shuffle:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q206 nDCG: BM25 legs lower to TakeOrdered; metric joins never cartesian") {
    val p = plan("q206_retrieval_ndcg")
    assert(p.contains("TakeOrdered"),
      s"bm25 top-k did not lower to TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"metric combination planned a cartesian:\n$p")
  }

  test("q207 vocab growth: one gram window pass, checkpoints broadcast") {
    val p = plan("q207_vocab_growth")
    assert(!p.contains("CartesianProduct"),
      s"checkpoint cross must ride a broadcast, never a cartesian shuffle:\n$p")
    // exactly one per-gram window (the rn<=2 reduction); the only other
    // window is the 10-row lag over deciles
    assert("RunningWindowFunction|Window".r.findAllIn(p).size <= 4,
      s"unexpected extra window passes:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q213 join-view maintenance: four keyed delta joins, no product") {
    val p = plan("q213_join_view_maint")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"delta decomposition planned a product:\n$p")
    assert(p.contains("partial_"), s"merge agg lost map-side partials:\n$p")
  }

  test("q210 exact-k sample: rank filter lowers to WindowGroupLimit") {
    val p = plan("q210_stratified_exact_k")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not lower to the per-partition top-k heap:\n$p")
    assert(!"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct"
      .r.findAllIn(p).hasNext, s"sampling must not join:\n$p")
  }

  test("q209 EWMA: one window pass over the daily grain, zero joins") {
    val p = plan("q209_ewma_anomaly")
    assert(!"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct"
      .r.findAllIn(p).hasNext, s"smoother must be lags, not a join:\n$p")
    assert(p.contains("partial_"), s"daily grain lost map-side partials:\n$p")
  }

  test("q208 resize plan: decode-speed scan — no joins, no aggregates") {
    val p = plan("q208_image_resize_plan")
    assert(!"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct"
      .r.findAllIn(p).hasNext, s"resize plan must not join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"resize plan must not aggregate:\n$p")
  }

  test("q232 k-anonymity: one Expand pass serves all three grains, map-side partials") {
    val p = plan("q232_k_anonymity")
    // The generalization ladder must be ONE grouping-sets pass — a
    // single Expand feeding one shuffle — not three scans unioned.
    assert("Expand".r.findAllIn(p).length == 1,
      s"ladder must be one Expand pass:\n$p")
    assert(p.contains("partial_"), s"class counting lost map-side partials:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
  }

  test("q235 t-closeness: band grid rides broadcasts, no shuffled product") {
    val p = plan("q235_t_closeness")
    // The dense class×band grid and the constants row must arrive by
    // broadcast (band table is value-range-bounded); a CartesianProduct
    // would mean the grid shuffles with the data.
    assert(!p.contains("CartesianProduct"),
      s"grid must broadcast, not product-shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast grid join:\n$p")
    assert(p.contains("partial_"), s"leading aggregates lost partials:\n$p")
  }

  test("q236 TA audit: ranked lists come from TakeOrdered, not a corpus window") {
    val p = plan("q236_ta_topk_audit")
    // The only full-data operators may be the scoring aggregate and
    // TakeOrdered top-D/top-k; every window in the plan runs on the
    // depth-capped lists. A corpus-wide row_number would be the exact
    // single-partition sort TA exists to avoid.
    assert(p.contains("TakeOrderedAndProject"),
      s"ranked lists must be TakeOrdered:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"scoring aggregate lost map-side partials:\n$p")
  }

  test("BucketedPrefix/ShardedRank consumers (q178/q258/q259/q269/q230): no corpus-sized single-partition window") {
    // The classic global sorts are re-expressed as bucket/range-shard
    // prefix machinery; the only windows left are either PARTITIONED
    // (by bucket / (partition, group)) or run over a bucket-grain
    // AGGREGATE (ShardedRank's P-row offset table — unpartitioned but
    // bounded). An unpartitioned window over row-grain input would be
    // the one corpus-sized single-partition WindowExec in the repo —
    // pin its absence structurally via WindowAudit.windowShapes (which
    // sees through AQE wrappers, cached relations, and subqueries, and
    // ignores aggregates on broadcast build sides).
    Seq("q178_ks_drift", "q258_peak_concurrency", "q259_watermark_lateness",
        "q269_global_quantiles", "q230_zorder_skipping")
      .foreach { name =>
        val shapes = WindowAudit.windowShapes(
          SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
        graft.ops.TransientCache.releaseAll()
        assert(shapes.nonEmpty,
          s"$name: expected the bucket/shard prefix windows")
        shapes.foreach { w =>
          assert(w.arity >= 1 || w.bounded,
            s"$name: corpus-sized single-partition window $w")
        }
      }
  }

  test("q270 interval overlap: pairing is a bucket equi-join, never a nested-loop product") {
    val p = plan("q270_session_overlap")
    // The range join must stay inside hash-partitioned bucket groups —
    // a BNLJ here would be the sessions² theta join the bucketing exists
    // to avoid.
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval pairing left the bucket equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"expected a hash/merge equi-join on the bucket key:\n$p")
  }

  test("q228 PPJoin: candidate state is pair grain — aggregate before persist, partial max") {
    val p = plan("q228_ppjoin_positional")
    // The r7 plan persisted collision-grain rows then distinct'ed them
    // twice; the r8 plan aggregates to (doc_a, doc_b) with a map-side
    // partial max BEFORE anything persists, so persisted state is
    // pair-sized by construction.
    // Pin the MAX specifically (r8 advice: `|| partial_` subsumed the
    // first disjunct, so any partial aggregate — even a regressed
    // distinct's partial grouping — kept this green).
    assert(p.contains("partial_max"),
      s"pair aggregate lost its map-side partial max:\n$p")
    assert(readsArtifact(p),
      s"pair table should be the persisted artifact:\n$p")
  }

  test("q224 winnowing: pairing is an equi-join on the fingerprint hash, no product") {
    val p = plan("q224_winnowing_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fingerprint pairing must stay inside posting lists:\n$p")
    // The winnow itself is ONE running-min window over (doc, pos) — the
    // selection must not expand into a per-window self-join.
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"winnow min window missing:\n$p")
  }
}
