package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a near-duplicate pair graph —
  * the step that turns pairwise dedup candidates (MinHash-LSH, SimHash
  * Hamming pairs) into document CLUSTERS, so a pipeline can keep one
  * canonical document per component (the structure of every large-scale
  * corpus dedup: pairs → components → keep-min).
  *
  * Algorithm: min-label propagation with pointer jumping. Each round
  * every node takes the minimum component id over itself, its
  * neighbours, AND its current label's label (the pointer jump — the
  * propagation distance doubles per round, the classic PRAM shortcut
  * also used by large-star/small-star, Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14). The fixpoint labels
  * every node with the minimum doc id reachable from it, i.e. its
  * connected component, in O(log diameter) rounds.
  *
  * Scale design (100 TB): per round, one broadcast-or-shuffle join of the
  * label table against the edge list plus one groupBy(min) — both keyed
  * on node id, both AQE-protected. The edge list is persisted once
  * ([[graft.ops.TransientCache]]; the caller's runner releases it) and
  * each round's label table is `localCheckpoint`ed to truncate lineage —
  * an iterative algorithm that keeps its full lineage re-executes every
  * prior round at each action and dies at scale. Convergence is detected
  * with a changed-label count (a driver-side scalar per round, like any
  * iterative MLlib/GraphX driver loop).
  */
object Components {

  /** (node, component) for every node appearing in `edges`; component =
    * min node id reachable. Deterministic for any edge order.
    *
    * Round economy (iterative Spark = per-round job overhead, keep rounds
    * and jobs minimal): round 0 seeds each node with min(self, neighbours)
    * in ONE aggregation — a band-collision CLIQUE (the dominant near-dup
    * component shape) is already at its fixpoint after it, so the loop
    * usually runs a single verification round. Convergence is detected by
    * the monotone label sum: min-propagation can only lower labels, so
    * sum(comp) is strictly decreasing until the fixpoint — an unchanged
    * sum (one tiny agg over the just-checkpointed table, no join) IS
    * convergence. The sum runs in DECIMAL(38,0): 1e12 nodes × 2^63-range
    * ids cannot overflow it. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val undirected = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val e = graft.ops.TransientCache.persist(undirected)
    def labelSum(labels: DataFrame): java.math.BigDecimal =
      Option(labels.agg(sum(col("comp").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO) // empty graph
    // Per-round plan hygiene: each round references the previous label
    // table TWICE (own labels ∪ neighbour join), so without lineage
    // truncation the logical tree DOUBLES every round and analysis cost
    // goes exponential (measured: 6 s → 38 s at sf0.1). A LAZY
    // localCheckpoint keeps it one job per round: the convergence-sum
    // action below both materializes the round and truncates its lineage.
    var labels = graft.ops.TransientCache.track(
      e.groupBy(col("src"))
        .agg(min(least(col("src"), col("dst"))).as("comp"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(false))
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    // One propagation step: min over own label, each neighbour's label
    // (flow along edges), and the label's own label (pointer jumping —
    // the effective propagation distance doubles per step, so convergence
    // is O(log diameter) steps instead of O(diameter); near-dup chains
    // measured diameter ~9 at sf0.1 → 10 plain steps vs ~4 jumped).
    def step(labels: DataFrame): DataFrame = {
      val neighbour = e.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("comp"))
      val hop = labels.as("l1")
        .join(labels.as("l2"), col("l1.comp") === col("l2.node"))
        .select(col("l1.node").as("node"), col("l2.comp").as("comp"))
      labels.union(neighbour).union(hop)
        .groupBy(col("node")).agg(min(col("comp")).as("comp"))
    }
    while (!converged && it < maxIter) {
      // ONE propagation step per action. (A two-steps-per-action variant
      // — persisted middle, halved convergence checks — benched SLOWER in
      // the full suite: 9.0 s vs 5.5 s for q54 at sf0.1; the doubled
      // join/broadcast work per action outweighs the saved job latency.)
      val next = graft.ops.TransientCache.track(
        step(labels).localCheckpoint(false))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      it += 1
    }
    labels
  }

  /** Strategy dispatch (the ngramJaccardPairsAutoFromShingles pattern): after
    * signature contraction the edge set is usually TINY relative to the
    * corpus (it only holds representative pairs), so when it fits a hard
    * driver bound the transitive closure runs as a local union-find —
    * exact, O(E·α(E)), no per-round job latency; above the bound, the
    * distributed pointer-jumped loop. Output identical (spec-forced on
    * both paths). The bound is EDGES (collected payload is two longs per
    * edge: 2^20 edges ≈ 16 MB), never the corpus size — a 100 TB corpus
    * whose contracted dup graph is small takes the fast path legitimately;
    * one whose graph is huge still converges distributed. */
  def connectedComponentsAuto(edges: DataFrame, aCol: String, bCol: String,
                              localEdgeLimit: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // The local union-find needs collectable integral ids; any other node
    // type (string urls, uuids) always takes the type-generic distributed
    // loop — never a silent cast-to-null narrowing.
    val integral = Seq(aCol, bCol).forall(c =>
      edges.schema(c).dataType == LongType || edges.schema(c).dataType == IntegerType)
    // Integral ids are normalized to BIGINT so both paths emit the same
    // schema; non-integral ids keep their type on the distributed path.
    val e = graft.ops.TransientCache.persist(
      if (integral)
        edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      else edges.select(col(aCol).as("src"), col(bCol).as("dst")))
    if (!integral || e.count() > localEdgeLimit) {
      val cc = connectedComponents(e, "src", "dst")
      // The loop caches its own (undirected) edge table; the directed
      // probe copy is dead weight for the O(log D) rounds — drop it now
      // rather than at the caller's releaseAll.
      e.unpersist(blocking = false)
      cc
    } else {
      val spark = edges.sparkSession
      import spark.implicits._
      val pairs = e.as[(Long, Long)].collect()
      // Union-find with path compression; roots then resolve to the min
      // member so labels match the distributed fixpoint exactly.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = parent.keySet().toArray(Array.empty[java.lang.Long])
      val out = nodes.map(n => (n.longValue(), find(n.longValue())))
      spark.createDataset(out.toSeq).toDF("node", "comp")
    }
  }

  /** Canonical-document selection: rank every member of each near-dup
    * component by an external score (desc, id-asc tiebreak) — rank 1 is
    * the document the dedup pass KEEPS, the rest are the drop set. This
    * is the resolution step that turns a component map plus a quality
    * signal into an actionable keep/drop decision (the standard
    * "keep best, not first" dedup policy).
    *
    * Output: component, doc id, score, `rank`, `n_in_component`.
    *
    * 100 TB shape: one equi-join on the doc id and one window partitioned
    * by component — both shuffle-bounded by the component map, which only
    * holds docs that HAVE a near-dup edge (a small fraction of the
    * corpus). No giant component ever concentrates on one task beyond its
    * own member count, and the score side prunes to (id, score) columns
    * before the join. */
  def canonicalPerComponent(membership: DataFrame, docCol: String,
                            compCol: String, scores: DataFrame,
                            scoreIdCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // LEFT join: a member with no score row still ranks (below every
    // scored member, nulls-last) — an inner join would silently drop it
    // from the keep/drop decision and undercount n_in_component.
    val w = Window.partitionBy(col(compCol))
      .orderBy(col(scoreCol).desc_nulls_last, col(docCol))
    val m = membership.select(col(docCol), col(compCol))
    val sc = scores.select(col(scoreIdCol).as("__score_id"), col(scoreCol))
    m.join(sc, m(docCol) === col("__score_id"), "left")
      .select(col(compCol), m(docCol), col(scoreCol))
      .withColumn("rank", row_number().over(w))
      .withColumn("n_in_component",
        count(lit(1)).over(Window.partitionBy(col(compCol))))
  }

  /** Integer-exact PageRank (Page et al. 1999), fixed iteration count,
    * damping 0.85, over a directed edge list — the centrality pass a
    * corpus link/near-dup graph audit runs after components.
    *
    * Determinism: ranks live in micro-units (pr₀ = 1 000 000) and every
    * update is integer arithmetic —
    * `pr'(v) = 150000 + Σ_{u→v} (pr(u) * 17) div (20 * outdeg(u))`
    * (17/20 = 0.85) — so the result is bit-identical in any engine
    * regardless of join or aggregation order (float PageRank sums in
    * nondeterministic order and can't be oracle-compared). Dangling nodes
    * (no out-edges) keep their damped base — the standard
    * no-redistribution simplification, stated here as the contract.
    *
    * 100 TB shape: the edge list with out-degrees is computed once and
    * persisted ([[graft.ops.TransientCache]]); each iteration is one
    * shuffle join (ranks ⋈ edges on the source) + one map-side-combined
    * groupBy on the destination — the textbook Spark PageRank plan. Up to
    * `truncateAfter` iterations the plan stays a fixed unrolled tree (no
    * extra jobs — cheapest at the default depth 3); past it, every
    * round's rank table is eagerly `localCheckpoint`ed exactly like
    * [[connectedComponents]]' label rounds, because a deep iterative
    * plan that keeps its full lineage re-plans quadratically and
    * re-executes every prior round on a task retry — the at-scale
    * failure mode SCALE.md describes. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, truncateAfter: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1,10], got $iters")
    // The raw edge list is persisted FIRST: everything below (out-degrees,
    // the joined edge table, the node universe) derives from it, and an
    // expensive upstream edge build (a kNN graph, an LSH pair pass) must
    // run once, not once per derivation.
    val e0 = graft.ops.TransientCache.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val e = graft.ops.TransientCache.persist(e0.join(outdeg, "src"))
    val nodes = graft.ops.TransientCache.persist(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    var pr = nodes.withColumn("pr", lit(1000000L))
    val truncate = iters > truncateAfter
    for (_ <- 1 to iters) {
      // One join + one shuffle per iteration: the damped base rides into
      // the aggregation as a per-node seed row (150000 + Σc ≡ Σ(c ∪
      // {150000})), replacing a second rebase join per round.
      val contrib = e.join(pr, e("src") === pr("node"))
        .select(col("dst").as("node"),
          expr("(pr * 17) div (20 * od)").as("c"))
      pr = contrib.union(nodes.select(col("node"), lit(150000L).as("c")))
        .groupBy(col("node")).agg(sum(col("c")).as("pr"))
      if (truncate)
        pr = graft.ops.TransientCache.track(pr.localCheckpoint(true))
    }
    pr
  }

  /** Size-gated PageRank dispatch — [[connectedComponentsAuto]]'s
    * contract applied to ranks: an edge list that fits the driver gate
    * (integral ids AND ≤ `localEdgeLimit` edges) iterates in a tight
    * local loop over the collected adjacency — the SAME integer
    * recurrence `pr'(v) = 150000 + Σ (pr(u)·17) div (20·od(u))`, so the
    * labels are bit-identical to the distributed fixpoint (spec-pinned)
    * — while anything larger takes the one-join-per-round distributed
    * plan unchanged. The token co-occurrence and kNN graphs this engine
    * ranks are vocabulary/model-sized aggregates, orders of magnitude
    * below the gate even at 100 TB corpus scale; the gate exists so the
    * operator NEVER silently collects an unbounded edge list. */
  def pageRankAuto(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int = 3, localEdgeLimit: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(iters >= 1 && iters <= 10, s"iters must be in [1,10], got $iters")
    val integral = Seq(srcCol, dstCol).forall(c =>
      edges.schema(c).dataType == LongType || edges.schema(c).dataType == IntegerType)
    val e0 = graft.ops.TransientCache.persist(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    if (!integral || e0.count() > localEdgeLimit) {
      val out = pageRank(e0, "src", "dst", iters)
      e0.unpersist(blocking = false)
      out
    } else {
      val spark = edges.sparkSession
      import spark.implicits._
      val pairs = e0.as[(Long, Long)].collect()
      e0.unpersist(blocking = false)
      val od = new java.util.HashMap[Long, Long]()
      val nodes = new java.util.LinkedHashSet[Long]()
      pairs.foreach { case (s, d) =>
        od.merge(s, 1L, (a, b) => a + b); nodes.add(s); nodes.add(d)
      }
      var pr = new java.util.HashMap[Long, Long]()
      nodes.forEach(n => pr.put(n, 1000000L))
      for (_ <- 1 to iters) {
        val next = new java.util.HashMap[Long, Long]()
        nodes.forEach(n => next.put(n, 150000L))
        pairs.foreach { case (s, d) =>
          next.merge(d, pr.get(s) * 17 / (20 * od.get(s)), (a, b) => a + b)
        }
        pr = next
      }
      val out = nodes.toArray(Array.empty[java.lang.Long])
        .map(n => (n.longValue(), pr.get(n.longValue()).longValue()))
      spark.createDataset(out.toSeq).toDF("node", "pr")
    }
  }
}
