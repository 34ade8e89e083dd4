package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime cache of persisted derived tables, keyed by
  * (session instance, logical key). The same contract as the member
  * catalog's cache: entries live as long as their session, entries of
  * stopped sessions are evicted on access, and — unlike TransientCache —
  * nothing here is released per-query, because the cached artifact is
  * shared ACROSS queries (e.g. the simhash signature table feeding both
  * the cluster and the Hamming-pair pass).
  *
  * One storage mechanism: each artifact is persisted once
  * (`MEMORY_AND_DISK` column batches), and every consumer reads a
  * DataFrame whose plan is only that cache entry's `InMemoryRelation`
  * leaf ([[org.apache.spark.sql.CachedLeaf]]) — columnar scans with
  * column pruning, one shared store for all queries. The relation keeps
  * the build plan as its `cachedPlan`, which gives two things for free:
  * a lost block is recomputed from that lineage instead of failing the
  * consumer, and a consumer's `executedPlan.toString` and PlanAudit's
  * census still see inside the build.
  *
  * The batches are written from a round-robin shuffle whose map output
  * stays on local disk while the artifact is referenced: lineage
  * recovery reads it, and the ContextCleaner (not [[clear]]) removes it
  * once the persisted Dataset is garbage. So each artifact is held as
  * its cached batches plus those shuffle files. `simhash_comps` also
  * holds the checkpoint blocks of its label-propagation fixpoint, which
  * its builder takes: [[clear]] leaves them to the ContextCleaner too,
  * and a lost one cannot be recomputed. At cluster scale the entry would
  * be a persisted table on storage. */
object SessionCache {

  /** (persisted Dataset, consumer leaf) per key: consumers get the
    * leaf, [[clear]] unpersists the persisted Dataset. */
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** Per-session log of cache-miss build cost (key -> cumulative
    * EXCLUSIVE seconds). Artifact builds are the one cross-query cost in
    * the engine, and charging them to whichever query happens to run
    * first made round-over-round per-query comparisons ambiguous (r6
    * verdict item 2). Misses are timed HERE — the single choke point
    * through which every session artifact is born — and Bench drains
    * the log per query so each query's wall time decomposes into query
    * work + artifact builds. A build that first builds another artifact
    * (`tok_counts` → `src_tok_counts`) is charged only its own time: the
    * nested build's seconds go to the nested key alone, so the entries
    * of one drain never sum to more than the time they were built in.
    * Entries of stopped sessions are evicted on the next record. */
  private val buildLog =
    scala.collection.concurrent.TrieMap.empty[SparkSession, scala.collection.concurrent.TrieMap[String, Double]]

  private def recordBuild(spark: SparkSession, key: String, secs: Double): Unit = {
    buildLog.keys.filter(_.sparkContext.isStopped).foreach(buildLog.remove)
    val m = buildLog.getOrElseUpdate(spark, scala.collection.concurrent.TrieMap.empty)
    m.put(key, m.getOrElse(key, 0.0) + secs)
  }

  /** Nanoseconds spent in builds nested inside the innermost build open
    * on this thread — the per-thread build stack, kept as one counter
    * per open frame ([[exclusive]] saves and restores the outer one). */
  private val nestedNs = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run a build, returning its value and its EXCLUSIVE seconds (its
    * wall time minus that of the builds nested inside it). */
  private def exclusive[T](build: => T): (T, Double) = {
    val outer = nestedNs.get
    nestedNs.set(0L)
    val t0 = System.nanoTime()
    try {
      val v = build
      (v, (System.nanoTime() - t0 - nestedNs.get) / 1e9)
    } finally nestedNs.set(outer + (System.nanoTime() - t0))
  }

  /** Return and clear the accumulated artifact-build seconds for this
    * session (key -> seconds since the last drain). */
  def drainBuildLog(spark: SparkSession): Map[String, Double] =
    buildLog.remove(spark).map(_.toMap).getOrElse(Map.empty)

  def getOrBuild(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
    cache.get((spark, key)) match {
      case Some((_, leaf)) => leaf
      case None =>
        // Not getOrElseUpdate: TrieMap may evaluate the builder in two
        // racing threads and only store one. The loser must NOT
        // unpersist its build: Spark's CacheManager registers cache
        // entries by logical-plan equality, so unpersisting the loser's
        // (identical) plan would evict the WINNER's entry. The loser's
        // persist was a no-op on the already-cached plan, so dropping
        // its reference leaks nothing.
        //
        // Stored once: persist + count writes the column batches, and
        // the eager count lands the full build cost inside this timed
        // window instead of in whichever consumer touches the artifact
        // first. Consumers get the cache entry's InMemoryRelation leaf,
        // not the build plan: a one-node tree to analyze, pruned
        // columnar reads, and the actual materialized size driving
        // broadcast decisions.
        //
        // The batches are written from a round-robin shuffle. Every
        // consumer task carries the cached RDD's lineage back to its
        // last shuffle, which is what lets it recompute a lost block;
        // without the shuffle that lineage is the build's whole final
        // stage, generated code included (measured on the sf0.01
        // pre-aggregate: a 117 KB serialized scan RDD instead of 16 KB,
        // and pivot requests about 15 % slower on 4 cores).
        val (persisted, secs) = exclusive {
          val p = build.repartition()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        }
        val entry = (persisted, org.apache.spark.sql.CachedLeaf.of(persisted))
        val winner = cache.putIfAbsent((spark, key), entry).getOrElse(entry)
        if (winner eq entry) recordBuild(spark, key, secs)
        winner._2
    }
  }

  /** Session-keyed memo for an arbitrary trained-model value (codebooks,
    * LUT plans, driver-side state) — the [[getOrBuild]] pattern without
    * persist management: the builder owns any persistence of the
    * DataFrames it embeds. Same race contract: losers drop their build
    * without touching caches.
    *
    * BUILDER CONTRACT (required for the race to be leak-free): for a
    * given key, every invocation of the builder must produce DataFrames
    * whose logical plans CANONICALIZE EQUAL (deterministic build from the
    * same inputs). Spark's CacheManager registers persisted entries by
    * plan equality, so a race loser's persist() is then a no-op on the
    * winner's entry and dropping the loser leaks nothing. A builder with
    * nondeterministic plans (fresh random seeds, current-time literals)
    * would leak the loser's cached blocks for the session — don't memo
    * such builds. Every current builder (PQ codebooks, kNN graph,
    * simhash signatures) is plan-deterministic by construction. */
  private val values =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Any]

  def memo[T](spark: SparkSession, key: String)(build: => T): T = {
    values.keys.filter(_._1.sparkContext.isStopped).foreach(values.remove)
    values.get((spark, key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        // Model builders run their own actions (k-means fits, codebook
        // training), so timing the closure captures the real cost.
        val (built, secs) = exclusive(build)
        val prior = values.putIfAbsent((spark, key), built)
        if (prior.isEmpty) recordBuild(spark, key, secs)
        prior.map(_.asInstanceOf[T]).getOrElse(built)
    }
  }

  /** Evict every entry belonging to `spark`, unpersisting cached tables —
    * the cold-measurement hook behind Bench's cold pass: with the cache
    * cleared before each query, a query pays the FULL build cost of the
    * artifacts it normally shares (signature tables, kNN graph, PQ model,
    * member catalog), so the amortization claim is measured rather than
    * asserted. Model [[memo]] entries are evicted without touching
    * storage: their builders own any embedded persists, which Spark's
    * CacheManager would hand straight back to a plan-equal rebuild — so a
    * truly cold measurement must pair this with
    * `spark.catalog.clearCache()` (Bench's cold pass does). */
  def clear(spark: SparkSession): Unit = {
    cache.keys.filter(_._1 eq spark).foreach { k =>
      cache.remove(k).foreach(_._1.unpersist(blocking = false))
    }
    values.keys.filter(_._1 eq spark).foreach(values.remove)
  }
}
