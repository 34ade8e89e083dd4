package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the correctness baseline, plus the two
  * standard scale paths — random-hyperplane LSH bucketing (Charikar
  * 2002) and IVF cell probing (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", 2011 — the coarse-quantizer half, without
  * PQ codes) (BASELINE.json surface).
  *
  * Determinism design: embeddings are quantized to integers
  * (`floor(x*1000)`), so dot products and norms are exact BIGINT
  * arithmetic that any engine reproduces bit-for-bit. Ranking uses the
  * IEEE-exact `dot / sqrt(na*nb)` on those exact integers (identical on
  * every IEEE-754 engine) with an id tie-break; thresholds are integer
  * cross-multiplications — no float appears in any output column.
  *
  * Scale notes: brute-force is O(Q×N) with Q small (a broadcast of the
  * query set against a partitioned scan — embarrassingly parallel, no
  * shuffle until the per-query top-k, which TakeOrdered handles).
  * The LSH variant buckets both sides on an 8-bit hyperplane signature:
  * the join becomes an equi-join on `bucket`, turning O(Q×N) into
  * O(Q×N/2^b) — the same banding idea that makes 100 TB ANN tractable.
  */
object Similarity {

  /** Quantize a float embedding to exact integer coordinates. The cast to
    * double BEFORE the multiply matters: float math could round across an
    * integer boundary differently than an oracle computing in double. */
  def quantize(emb: Column, scale: Int = 1000): Column =
    transform(emb, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen expression (graft.functions.ArrayDotLong). */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** Squared L2 norm of a quantized vector. */
  def normQ(a: Column): Column = dotQ(a, a)

  /** Cosine from an exact integer dot product and the two squared
    * norms: the IEEE-exact `dot / sqrt(na*nb)` every ranking here
    * (and its oracle) uses. */
  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** The top-k tail: per `part`, rank rows by (cos desc, `id`) and keep
    * rank <= k. */
  private def topK(scored: DataFrame, part: String, id: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col(part)).orderBy(desc("cos"), col(id))))
      .where(col("rank") <= k)

  /** Deterministic ±1 hyperplane weights, derived from md5 so any engine
    * can rebuild them: weight(plane, dim) = +1 iff the first hex digit of
    * md5("plane_dim") has its high bit set. */
  def hyperplaneWeights(nPlanes: Int, dims: Int): Seq[Seq[Int]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until dims).map { i =>
        val hex = digest.digest(s"${p}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) >= '8') 1 else -1
      }
    }
  }

  /** 8-bit LSH bucket signature ('0'/'1' chars) of a quantized vector
    * under the shared hyperplanes. */
  def lshBucket(q: Column, planes: Seq[Seq[Int]]): Column = {
    val bits = planes.map { w =>
      val wArr = array(w.map(lit(_)): _*)
      val proj = aggregate(zip_with(q, wArr, (x, ww) => x * ww), lit(0L), (acc, v) => acc + v)
      when(proj >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Database-friendly random projection ANN (Achlioptas 2003 — the
    * Johnson–Lindenstrauss lemma's practical ±1 form): project the
    * 64-dim quantized vectors to `outDims` integer coordinates under
    * the SAME md5-derived hyperplanes the LSH bucketer uses (the LSH
    * bit is the 1-bit shadow of this projection — q28 keeps the sign,
    * this keeps the magnitude), then brute-force cosine top-k in the
    * PROJECTED space. The projection is exact-integer (±1-weighted sums
    * of quantized coords), so any engine rebuilds it bit-for-bit; only
    * the final cosine ranking divides (q27's parity posture). At scale
    * the projection is a map-side transform that cuts the candidate
    * scan's bytes by dims/outDims before any pairwise work — the
    * standard pre-ANN dimensionality cut; q163 audits its recall. */
  def jlTopK(emb: DataFrame, idCol: String, embCol: String,
             isQuery: Column, k: Int = 3, outDims: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val dims = 64 // TESTDATA embedding dimensionality
    val planes = hyperplaneWeights(outDims, dims)
    val proj = array(planes.map { w =>
      val wArr = array(w.map(lit(_)): _*)
      aggregate(zip_with(col("qv"), wArr, (x, ww) => x * ww),
        lit(0L), (acc, v) => acc + v)
    }: _*)
    val withP = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
      .withColumn("pv", proj).drop("qv")
    val q = withP.where(isQuery)
      .select(col("vec_id").as("query_id"), col("pv").as("qpv"))
    val scored = withP.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotQ(col("qpv"), col("pv")).as("dot"),
        normQ(col("qpv")).as("nq"), normQ(col("pv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    topK(scored, "query_id", "vec_id", k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Brute-force cosine top-k: every query vector against all candidates
    * (self excluded). Output (query_id, rank, vec_id, dot) — `dot` exact. */
  def bruteForceTopK(emb: DataFrame, idCol: String, embCol: String,
                     isQuery: Column, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val q = emb.select(col(idCol).as("query_id"), quantize(col(embCol)).as("qv"))
      .where(isQuery)
    val c = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotQ(col("qv"), col("cv")).as("dot"),
        normQ(col("qv")).as("nq"), normQ(col("cv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    topK(scored, "query_id", "vec_id", k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Hard-negative mining for contrastive/embedding training: per anchor
    * (query) vector, the top-k most-cosine-similar candidates whose label
    * DIFFERS from the anchor's — the "hardest" negatives a trainer pairs
    * with each anchor. Output (query_id, rank, vec_id, neg_label, dot).
    *
    * Scale shape = [[bruteForceTopK]]'s: the (small) anchor set
    * broadcasts against the partitioned candidate scan — embarrassingly
    * parallel, the label filter prunes at scan time, and only k rows per
    * anchor survive the per-query window. At corpus scale, route the
    * candidate side through the IVF cells first ([[ivfTopK]]'s
    * structure) — the label predicate composes with any of the ANN
    * variants unchanged. */
  def hardNegatives(emb: DataFrame, idCol: String, embCol: String,
                    labelCol: String, isQuery: Column, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val q = emb.select(col(idCol).as("query_id"),
        col(labelCol).as("q_label"), quantize(col(embCol)).as("qv"))
      .where(isQuery)
    val c = emb.select(col(idCol).as("vec_id"),
      col(labelCol).as("neg_label"), quantize(col(embCol)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id") &&
        col("neg_label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("neg_label"),
        dotQ(col("qv"), col("cv")).as("dot"),
        normQ(col("qv")).as("nq"), normQ(col("cv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    topK(scored, "query_id", "vec_id", k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("neg_label"), col("dot"))
  }

  /** Scalar-quantization (int8) ANN with its recall audit in the same
    * pass — the production vector-store compression format (one byte
    * per dimension) next to PQ (q84) and JL (q163) in the quantization
    * family. Per-dimension min/max over the integer-quantized grid
    * train the codec; code = (v-mn)·255 DIV span, reconstruction back
    * onto the grid, and the asymmetric distance (exact query vs
    * reconstructed candidate, the ADC trick) stays pure BIGINT — both
    * engines compute identical integers, no float parity risk anywhere.
    *
    * Output (query_id, rank, nbr_id, approx_d, hit): rank/approx_d from
    * the SQ distance, hit = 1 iff the neighbor is also in the EXACT
    * top-k on the un-coded grid — so recall@k is measured inside the
    * operator, the q109/q189 audit discipline.
    *
    * Scale shape: the codec state is 2·dims integers (driver-crossed,
    * model-sized, like PQ codebooks); scoring is the broadcast-query
    * scan of [[bruteForceTopK]] but over 1-byte-per-dim codes — at
    * corpus scale the candidate side routes through IVF cells first,
    * exactly as [[ivfpqTopK]] composes, and the 4× (float32→int8)
    * memory cut is what lets a cell's codes stay cache-resident. */
  def sqTopK(emb: DataFrame, idCol: String, embCol: String,
             isQuery: Column, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val q = emb.select(col(idCol).cast("long").as("vec_id"),
      quantize(col(embCol)).as("qv"))
    val stats = q.select(posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("pos")).collect()
    val mn = stats.map(_.getLong(1))
    val span = stats.map(r => r.getLong(2) - r.getLong(1))
    val mnA = mn.mkString("array(", "L, ", "L)")
    val spA = span.mkString("array(", "L, ", "L)")
    val recon = expr(
      s"""transform(qv, (x, i) ->
         |  CASE WHEN element_at($spA, i + 1) = 0 THEN element_at($mnA, i + 1)
         |  ELSE element_at($mnA, i + 1) +
         |    (((x - element_at($mnA, i + 1)) * 255
         |       DIV element_at($spA, i + 1)) * element_at($spA, i + 1))
         |      DIV 255 END)""".stripMargin)
    val c = q.select(col("vec_id"), col("qv").as("cv"), recon.as("rv"))
    val qs = q.where(isQuery)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val scored = c.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (normQ(col("qq")) + normQ(col("rv")) -
          lit(2L) * dotQ(col("qq"), col("rv"))).as("approx_d"),
        (normQ(col("qq")) + normQ(col("cv")) -
          lit(2L) * dotQ(col("qq"), col("cv"))).as("exact_d"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d"), col("vec_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_d"), col("vec_id"))
    scored.withColumn("rank", row_number().over(wa))
      .withColumn("re", row_number().over(we))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("nbr_id"),
        col("approx_d"),
        when(col("re") <= k, 1).otherwise(0).cast("int").as("hit"))
  }

  /** LSH-bucketed ANN: candidates restricted to the query's bucket. Same
    * output shape as brute force (recall traded for the 2^b fan-in cut). */
  def lshTopK(emb: DataFrame, idCol: String, embCol: String,
              isQuery: Column, k: Int = 3, nPlanes: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val dims = 64 // TESTDATA embedding dimensionality
    val planes = hyperplaneWeights(nPlanes, dims)
    val withB = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), planes))
    val q = withB.where(isQuery)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("bucket"))
    val scored = withB.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotQ(col("qqv"), col("qv")).as("dot"),
        normQ(col("qqv")).as("nq"), normQ(col("qv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    topK(scored, "query_id", "vec_id", k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Deterministic IVF structure shared by [[ivfTopK]], [[knnGraph]] and
    * the cell audits: centroids = the `nlist` lowest-id vectors. */
  private def centroids(e: DataFrame, nlist: Int): DataFrame =
    e.orderBy("vec_id").limit(nlist)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))

  /** Each `src` vector's centroids ranked by `ccos` ([[cosine]] of the
    * exact-integer dot and norms — the parity-critical contract mirrored
    * by the qe/cent oracle CTEs), ties toward the lower cid: rn = 1 is
    * the vector's assignment cell. */
  private def cellRanks(src: DataFrame, cent: DataFrame): DataFrame =
    src.crossJoin(broadcast(cent))
      .select(src("vec_id"), src("qv"), col("cid"),
        cosine(dotQ(col("qv"), col("cv")), normQ(col("qv")), normQ(col("cv")))
          .as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("ccos"), col("cid"))))

  /** The IVF coarse assignment: each vector with its rn = 1 cell. */
  private def assigned(e: DataFrame, cent: DataFrame): DataFrame =
    cellRanks(e, cent).where(col("rn") === 1)

  /** The IVF coarse assignment `(vec_id, cid)` under the shared
    * deterministic-centroid convention — exposed so index-health audits
    * (q170 cell balance) read the SAME assignment the probe path uses;
    * at scale this is the partitioning-key table whose balance decides
    * whether cell = partition actually works. */
  def ivfAssignments(emb: DataFrame, idCol: String, embCol: String,
                     nlist: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
    assigned(e, centroids(e, nlist)).select(col("vec_id"), col("cid"))
  }

  /** Each QUERY vector's centroid ranking `(query_id, cid, rn)` under
    * the shared deterministic-centroid convention — rn = 1 is the
    * query's own assignment cell, rn <= nprobe is exactly the probe
    * set [[ivfTopK]] scans. Exposed so the q267 nprobe sweep can
    * derive the SCANNED-candidate cost of each config from the same
    * ranking the serving path uses. */
  def queryCellRanks(emb: DataFrame, idCol: String, embCol: String,
                     isQuery: Column, nlist: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
    cellRanks(e.where(isQuery), centroids(e, nlist))
      .select(col("vec_id").as("query_id"), col("cid"), col("rn"))
  }

  /** IVF (inverted-file) ANN: vectors are partitioned into `nlist` cells
    * by nearest centroid; a query probes its `nprobe` closest cells and
    * ranks only their members. The classic trade: recall vs a 2-3
    * order-of-magnitude candidate cut — at 100 TB the cell assignment is
    * a partitioning key and each probe is a partition-pruned scan.
    *
    * Centroids here are the `nlist` lowest-id vectors (deterministic —
    * any engine reproduces the structure exactly; a production build
    * would k-means them, which only changes centroid quality, not the
    * operator shape). */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              isQuery: Column, k: Int = 3, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
    val cent = centroids(e, nlist)
    val assignment = assigned(e, cent).select(col("vec_id"), col("qv"), col("cid"))
    val probes = cellRanks(e.where(isQuery), cent).where(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("cid"))
    val scored = probes.join(assignment, Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotQ(col("qqv"), col("qv")).as("dot"),
        normQ(col("qqv")).as("nq"), normQ(col("qv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    topK(scored, "query_id", "vec_id", k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Partition-local k-NN GRAPH: every vector's top-k cosine neighbours
    * WITHIN its IVF cell — the scalable neighbour-graph primitive
    * (NN-Descent-style seeding, dedup-cluster input, retrieval-index
    * bootstrap). Unlike [[ivfTopK]] (few queries probing several cells),
    * the graph build runs ALL vectors as queries, so the only tractable
    * 100 TB shape is cell-local brute force: cell id = partition key, the
    * pair work is an equi-join on `cid` (never a global cross join), and
    * cells bound the per-task O(|cell|²). Same deterministic centroids
    * and exact-integer arithmetic as [[ivfTopK]]. */
  def knnGraph(emb: DataFrame, idCol: String, embCol: String,
               k: Int = 3, nlist: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
    // The persisted assignment carries each vector's norm: inside the
    // all-pairs cell join a per-pair normQ would re-run the O(d) dot
    // twice per pair — on Σ|cell|² pairs that's 3× the necessary
    // arithmetic (the oracle's nrm CTE shape, precomputed per vector).
    val assignment = graft.ops.TransientCache.persist(
      assigned(e, centroids(e, nlist))
        .select(col("vec_id"), col("qv"), col("cid"), normQ(col("qv")).as("n")))
    val scored = assignment.as("a").join(assignment.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        dotQ(col("a.qv"), col("b.qv")).as("dot"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .withColumn("cos", cosine(col("dot"), col("na"), col("nb")))
    topK(scored, "vec_id", "nbr_id", k)
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("dot"))
  }

  /** Graph-walk ANN serving — the navigable-graph architecture class
    * (Malkov & Yashunin, "Efficient and robust approximate nearest
    * neighbor search using Hierarchical Navigable Small World graphs",
    * 2018) re-expressed as BOUNDED-round DataFrame joins: route each
    * query to its IVF cell (the coarse layer), enter at the cell's
    * lowest-id member, then `rounds` beam expansions over the stored
    * cell-local kNN graph — each round joins the current beam (width
    * `beam`) against the edge list, exactly scores only the NEW
    * candidates (anti-join against everything already scored), and
    * re-ranks. Deterministic end to end: ties break (cos desc,
    * vec_id), the entry rule is min member id, rounds/beam are
    * plan-time constants — a SQL oracle replays the walk bit-for-bit.
    *
    * 100 TB shape: each round is one equi-join of a (|Q|·beam)-sized
    * frontier against the edge table (shuffle keyed on node id) plus a
    * frontier-sized window — per-query work is O(rounds·beam·degree),
    * independent of cell size, where [[ivfTopK]] pays the FULL cell
    * scan per probe. The q262 audit measures the recall that economy
    * costs on this fixture. Returns (query_id, rank, vec_id, dot)
    * for the final top-k, plus n_explored (size of the scored set —
    * the walk's whole cost) on every row. */
  def graphBeamSearch(emb: DataFrame, idCol: String, embCol: String,
                      edges: DataFrame, isQuery: Column, k: Int = 10,
                      beam: Int = 4, rounds: Int = 3,
                      nlist: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // One materialized quantization: score() runs once per round and
    // would otherwise re-scan + re-quantize the embedding table each
    // time (rounds+1 scans measured at ~6 s of pure overhead on the
    // sf0.1 bench before this persist).
    val e = graft.ops.TransientCache.persist(
      emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv")))
    val q = e.where(isQuery)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
    val asg = ivfAssignments(emb, idCol, embCol, nlist)
    val entry = asg.select(col("vec_id").as("query_id"), col("cid"))
      .join(q.select(col("query_id")), Seq("query_id"))
      .join(asg, Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(min(col("vec_id")).as("vec_id"))
    def score(cand: DataFrame): DataFrame = cand
      .join(e, Seq("vec_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotQ(col("qqv"), col("qv")).as("dot"),
        normQ(col("qqv")).as("nq"), normQ(col("qv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
      .select(col("query_id"), col("vec_id"), col("dot"), col("cos"))
    val wq = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("vec_id"))
    // The edge table joins into every round — materialize it once (in
    // production it IS the stored graph artifact; here the caller may
    // hand in a derived union like q263's bridged set).
    val edg = graft.ops.TransientCache.persist(
      edges.select(col("vec_id"), col("nbr_id")))
    // Per-round localCheckpoint, not persist: each round references the
    // scored-so-far table three times (frontier, dedup anti-join,
    // union), so a lazy persist keeps a logical plan that re-analyzes
    // the whole unrolled walk every round — measured as ~6 s of
    // DATA-INDEPENDENT driver time at both sf0.01 and sf0.1. The
    // checkpoint truncates lineage at a (queries × beam·degree)-sized
    // table, so each round plans against a leaf. State is bounded by
    // |Q|·(1 + rounds·beam·degree) rows at any corpus size.
    var scored = graft.ops.TransientCache.track(score(entry).localCheckpoint())
    (1 to rounds).foreach { _ =>
      val frontier = scored.withColumn("rn", row_number().over(wq))
        .where(col("rn") <= beam).select(col("query_id"), col("vec_id"))
      val fresh = frontier.join(edg, Seq("vec_id"))
        .select(col("query_id"), col("nbr_id").as("vec_id")).distinct()
        .where(col("vec_id") =!= col("query_id"))
        .join(scored.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
      scored = graft.ops.TransientCache.track(
        scored.unionByName(score(fresh)).localCheckpoint())
    }
    val explored = scored.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_explored"))
    topK(scored, "query_id", "vec_id", k)
      .join(broadcast(explored), Seq("query_id"))
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("dot"), col("n_explored"))
  }

  /** Long-range "bridge" edges for the navigable graph: each vector
    * links to the MIN-id member of its `nCells` best cells (by the
    * shared deterministic-centroid cosine, ties toward lower cid) —
    * the cross-cell links a cell-local kNN graph lacks. q262 measured
    * that lack directly (beam walks trapped in one cell, 26%
    * recall@10); q263 measures what these ≤ nCells extra edges per
    * vector buy back. This is NSW's core idea — a few long edges make
    * the graph navigable — kept deterministic and oracle-replayable.
    * At scale: one broadcast-centroid scoring pass + a broadcast join
    * against the nlist-sized min-member table; edge count grows
    * linearly in vectors. */
  def bridgeEdges(emb: DataFrame, idCol: String, embCol: String,
                  nlist: Int = 16, nCells: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("qv"))
    // One centroid-scoring pass serves both legs (top-nCells bridges
    // AND the rn=1 assignment the min-member table reads) — the
    // assignment convention is cellRanks rn=1, identical to
    // ivfAssignments, just not re-scored.
    val ranked = graft.ops.TransientCache.persist(
      cellRanks(e, centroids(e, nlist))
        .select(col("vec_id"), col("cid"), col("rn")))
    val top = ranked.where(col("rn") <= nCells).select(col("vec_id"), col("cid"))
    val minMember = ranked.where(col("rn") === 1)
      .groupBy(col("cid")).agg(min(col("vec_id")).as("nbr_id"))
    top.join(broadcast(minMember), Seq("cid"))
      .where(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"))
  }

  /** Embedding near-duplicate pairs: cosine >= numT/denT within a
    * blocking key (label), integer cross-multiplied:
    * cos >= t  <=>  dot > 0 && dot² * denT² >= numT² * na * nb.
    *
    * Skew guard: a blocking key shared by n vectors produces n² pairs in
    * ONE join task (the key must colocate), so a skewed block serializes
    * the whole stage. Blocks larger than `skewBlockLimit` take a salted
    * path — the a-side keeps one salt from its id, the b-side replicates
    * into all `nSalts` — splitting each oversized block's pair work into
    * `nSalts` independent tasks. Every pair still forms exactly once
    * (b-row replica `rep` matches only its partner's single salt), so the
    * output is identical to the plain path. */
  def nearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                   blockCol: String, numT: Int = 3, denT: Int = 10,
                   skewBlockLimit: Long = 1L << 14, nSalts: Int = 32): DataFrame = {
    import emb.sparkSession.implicits._
    // Quantize through a typed map: a SerializeFromObject boundary stops
    // Catalyst re-evaluating the (interpreted) transform() lambda once
    // per PAIR inside the self-join — it runs once per VECTOR.
    // Persist the quantized vectors BEFORE the block-count join: its two
    // inputs have different shapes (no exchange reuse), so an unpersisted
    // e0 would run the typed quantize pass over every embedding twice.
    val e0 = graft.ops.TransientCache.persist(
      emb.select(col(idCol).cast("long").as("id"),
          col(blockCol).cast("long").as("blk"), col(embCol).as("v"))
        .as[(Long, Long, Array[Float])]
        .map { case (id, blk, v) =>
          (id, blk, v.map(x => math.floor(x.toDouble * 1000).toLong))
        }
        .toDF("id", "blk", "qv"))
    val e = graft.ops.TransientCache.persist(
      e0.join(e0.groupBy(col("blk")).agg(count(lit(1)).as("blk_n")), "blk"))
    val small = e.where(col("blk_n") <= skewBlockLimit)
    val big = e.where(col("blk_n") > skewBlockLimit)
    val plainPairs = small.as("a").join(small.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        col("a.qv").as("qa"), col("b.qv").as("qb"))
    val bigA = big.withColumn("salt", pmod(hash(col("id")), lit(nSalts)))
    val bigB = big.withColumn("salt",
      explode(array((0 until nSalts).map(lit(_)): _*)))
    val saltedPairs = bigA.as("a").join(bigB.as("b"),
        col("a.blk") === col("b.blk") && col("a.salt") === col("b.salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        col("a.qv").as("qa"), col("b.qv").as("qb"))
    // The dot/norm inner loop runs typed over primitive arrays: Spark's
    // higher-order zip_with/aggregate are interpreted per element, and on
    // |block|² pairs that interpreter overhead dominates (benched ~10× on
    // sf0.1). Exact same BIGINT arithmetic.
    val pairs = plainPairs.unionByName(saltedPairs)
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (ida, idb, qa, qb) =>
        var i = 0; var dot = 0L; var na = 0L; var nb = 0L
        while (i < qa.length) {
          val x = qa(i); val y = qb(i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        (ida, idb, dot, na, nb)
      }
      .toDF("vec_a", "vec_b", "dot", "na", "nb")
    pairs.where(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot").cast("decimal(38,0)") * lit(denT * denT) >=
          lit(numT * numT) * col("na").cast("decimal(38,0)") * col("nb").cast("decimal(38,0)"))
      .select(col("vec_a"), col("vec_b"), col("dot"))
  }

  /** Embedding hygiene audit — the QC gate a corpus runs BEFORE any ANN /
    * near-dup / clustering pass trusts its vectors. Per group emits:
    *
    *   - `n_vecs`, `n_zero` (all-zero vectors break cosine: 0/0),
    *   - `min_dim` / `max_dim` (ragged dimensionality — a poisoned shard
    *     mixing models shows up here, not as a deep NaN later),
    *   - `min_nq` / `max_nq` / `sum_nq` (quantized squared-norm envelope:
    *     collapsed or exploding embeddings),
    *   - `scatter` = n·Σ‖x‖² − Σ_d(Σx_d)² — n² × the within-group
    *     variance around the centroid, kept in EXACT integer arithmetic
    *     (no division), so "which label has collapsed to a point"
    *     (near-zero scatter = embedding-model failure mode) is an exact,
    *     engine-reproducible number.
    *
    * Scale shape: one narrow pass for norms (map-side-combined
    * aggregate keyed by group), and one posexplode keyed by
    * (group, dim) — dims are bounded (64 here), so the exploded stream
    * partially aggregates to |groups|·dims rows before the shuffle.
    * Nothing is ever collected; no join wider than |groups| rows.
    * The scatter product n·Σ‖x‖² is guarded in-plan against silent
    * int64 wraparound (q90's assert_true pattern): at data volumes where
    * n²·d·m² approaches 2⁶³ the job fails loudly with the pre-aggregate
    * prescription instead of emitting a wrapped statistic. */
  def qcStats(emb: DataFrame, idCol: String, embCol: String,
              groupCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val qe = graft.ops.TransientCache.persist(
      emb.select(col(groupCol).as("grp"), quantize(col(embCol)).as("q")))
    val base = qe.select(col("grp"), normQ(col("q")).as("nq"),
      size(col("q")).as("dim"))
    val agg1 = base.groupBy(col("grp")).agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("nq") === 0, 1L).otherwise(0L)).as("n_zero"),
      min(col("dim")).cast("long").as("min_dim"),
      max(col("dim")).cast("long").as("max_dim"),
      min(col("nq")).as("min_nq"),
      max(col("nq")).as("max_nq"),
      sum(col("nq")).as("sum_nq"),
      max(col("nq")).as("m2max"))
    val perDim = qe.select(col("grp"),
        posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy(col("grp"), col("pos")).agg(sum(col("x")).as("sx"))
    val ssx = perDim.groupBy(col("grp"))
      .agg(sum(col("sx") * col("sx")).as("ssx"))
    agg1.join(ssx, Seq("grp"))
      // Overflow guard rides the output n_vecs column (q90 pattern):
      // every term of scatter is <= n² · max‖x‖², so enforce that bound
      // in double headroom below 2⁶³.
      .withColumn("n_vecs", col("n_vecs") + coalesce(
        assert_true(
          pow(col("n_vecs").cast("double"), 2) * col("m2max").cast("double")
            < lit(4.6e18),
          lit("embedding QC scatter would overflow int64: " +
            "pre-aggregate per sub-split and combine moments")).cast("long"),
        lit(0L)))
      .select(col("grp"), col("n_vecs"), col("n_zero"),
        col("min_dim"), col("max_dim"),
        col("min_nq"), col("max_nq"), col("sum_nq"),
        (col("n_vecs") * col("sum_nq") - col("ssx")).as("scatter"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998) over an
    * ANN candidate list: greedily pick the item maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * standard retrieval-diversification pass after a top-k (dedups
    * near-identical hits a plain cosine ranking stacks together).
    *
    * Engine parity: relevance and pairwise similarity are
    * floor(10⁶·cos) BIGINTs over exact integer dots (the ANN family's
    * quantization); with λ = num/den the greedy comparison is the pure
    * integer `num·rel − (den−num)·maxsim` with an id tie-break, so the
    * selection is engine-identical (the one float op is the shared
    * cos→ppm floor every ANN oracle already performs).
    *
    * 100 TB shape: the corpus-scale work is the distributed relevance
    * scan + TakeOrdered top-`kCand`; the greedy is inherently
    * sequential but runs over a BOUNDED candidate set — `kCand` rels +
    * kCand² pair sims (computed in-engine, collected count-gated like
    * the PQ codebooks/centroids), never the corpus. */
  def mmrRerank(emb: DataFrame, idCol: String, embCol: String,
                queryId: Long, kCand: Int, k: Int,
                lambdaNum: Long = 7, lambdaDen: Long = 10): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      quantize(col(embCol)).as("qv"))
    val q = base.where(col("vec_id") === queryId)
      .select(col("qv").as("query_v"), normQ(col("qv")).as("nq"))
    def cosQ(dot: Column, na: Column, nb: Column): Column =
      floor(lit(1000000) * dot.cast("double") /
        sqrt(na.cast("double") * nb.cast("double"))).cast("long")
    val cand = base.where(col("vec_id") =!= queryId).crossJoin(broadcast(q))
      .select(col("vec_id"), col("qv"),
        cosQ(dotQ(col("qv"), col("query_v")), normQ(col("qv")), col("nq"))
          .as("rel_q"))
      .orderBy(col("rel_q").desc, col("vec_id")).limit(kCand)
    val c = graft.ops.TransientCache.persist(cand)
    val rels = c.select(col("vec_id"), col("rel_q")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sims = c.as("a").join(c.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosQ(dotQ(col("a.qv"), col("b.qv")),
          normQ(col("a.qv")), normQ(col("b.qv"))).as("sim_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ rels.keys
    while (picked.size < math.min(k, rels.size)) {
      val best = remaining.toSeq.map { v =>
        val maxSim =
          if (picked.isEmpty) 0L
          else picked.map(p => sims((v, p))).max
        val score =
          if (picked.isEmpty) lambdaDen * rels(v) // first pick: pure relevance
          else lambdaNum * rels(v) - (lambdaDen - lambdaNum) * maxSim
        (v, score)
      }.maxBy { case (v, s) => (s, -v) } // score desc, id asc
      picked += best._1
      remaining -= best._1
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case (v, i) => (i + 1, v, rels(v)) }
      .toDF("rank", "vec_id", "rel_q")
  }

  // ------------------------------------------------------------ 1-bit / Hamming

  /** Bits `start .. start+31` (1-based dims) of the sign signature: bit
    * (i − start) of the half is 1 iff quantized coordinate i is ≥ 0.
    * Pure shift/mask/sum over 32 `element_at`s — whole-stage codegen,
    * and each half is a NON-NEGATIVE 32-bit value, so no engine's
    * BIGINT sign bit is ever touched (the same two-half discipline the
    * 64-bit SimHash family uses). */
  private def packSignHalf(qv: Column, start: Int): Column =
    (0 until 32).map(i =>
      when(element_at(qv, start + i) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** 1-bit (sign) binary quantization of the embedding column — the
    * memory-extreme point of the compression ladder next to SQ8
    * ([[sqTopK]], 1 byte/dim), PQ (sub-byte codebooks) and JL
    * ([[jlTopK]]): ONE bit per dimension (the sign of the quantized
    * coordinate — sign-random-projection with the identity basis,
    * Charikar 2002), so a 64-dim vector becomes 8 bytes, a 32× cut
    * that keeps a 100 TB embedding corpus's candidate scan in memory.
    * Hamming distance between signatures is a monotone estimate of
    * angle; for sub-linear Hamming retrieval over packed signatures see
    * the multi-index chunk banding measured by
    * [[graft.ext.Dedup.simhashChunkSweep]] (the pigeonhole discipline is
    * signature-agnostic). Returns `(vec_id, s0, s1)` with dims 1–32
    * packed in `s0` and 33–64 in `s1`. */
  def binarySignatures(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
        quantize(col(embCol)).as("qv"))
      .select(col("vec_id"), packSignHalf(col("qv"), 1).as("s0"),
        packSignHalf(col("qv"), 33).as("s1"))

  /** Brute-force Hamming top-k over the 1-bit signatures, with the
    * in-pass audit every compressed-ANN operator here carries: `hit` =
    * membership of the Hamming-ranked neighbor in the EXACT
    * quantized-cosine top-k (the full-precision ranking q27 serves) —
    * recall@k of 1-bit signatures is THE number that decides whether
    * the 32× memory cut is buyable for a given corpus.
    *
    * 100 TB shape: signatures (8 bytes/row) broadcast-join against the
    * partitioned scan; the serving path is two xor+popcount longs per
    * candidate — no float, no array — and only the audit columns touch
    * the full vectors (drop them in production and the scan reads 8
    * bytes per row instead of 256). Sub-linear serving goes through
    * the multi-index chunk banding ([[graft.ext.Dedup.simhashChunkSweep]]
    * measures it) instead of this scan. */
  def binarySignTopK(emb: DataFrame, idCol: String, embCol: String,
                     isQuery: Column, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
        quantize(col(embCol)).as("qv"))
      .withColumn("s0", packSignHalf(col("qv"), 1))
      .withColumn("s1", packSignHalf(col("qv"), 33))
    val q = base.where(isQuery)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("s0").as("t0"), col("s1").as("t1"))
    val scored = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("s0").bitwiseXOR(col("t0"))) +
          bit_count(col("s1").bitwiseXOR(col("t1")))).cast("int").as("hamming"),
        dotQ(col("qqv"), col("qv")).as("dot"),
        normQ(col("qqv")).as("nq"), normQ(col("qv")).as("nc"))
      .withColumn("cos", cosine(col("dot"), col("nq"), col("nc")))
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rank", row_number().over(wh))
      .withColumn("re", row_number().over(we))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("nbr_id"),
        col("hamming"), when(col("re") <= k, 1).otherwise(0).cast("int").as("hit"))
  }

}
