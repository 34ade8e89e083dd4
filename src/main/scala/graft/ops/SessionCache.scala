package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

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
  * be a persisted table on storage.
  *
  * Layout rule: an artifact is stored in the round-robin shuffle's
  * partitions, and every reader reads those partitions — except the
  * serving readers ([[serve]]: the navigated pre-aggregates, the NON
  * EMPTY-off member sets and the member catalog), which read an
  * artifact of at most [[SmallBytes]] as one partition. `coalesce(1)`
  * over the cached leaf reports a single partition, so a roll-up over it
  * plans its partial and final aggregate in one stage with no Exchange,
  * and an ordered page needs no range shuffle: a covered pivot is one
  * Spark job of one task. Nothing is
  * stored twice. Only the serving readers do this, because a consumer
  * that relies on the stored partitions for parallel work downstream
  * loses it on a one-partition input: coalescing every small artifact
  * made q183's simhash stage lose its `hashpartitioning(simhash…)`
  * exchange and cut q198 from 93 tasks to 18, slower (1.49 → 1.64 s). */
object SessionCache {

  /** The largest artifact a serving reader reads as one partition:
    * 5 MiB. Measured on 4 cores at sf0.1 with the `base` pre-aggregate
    * replicated to 1–33 MB stored, a per-request nation roll-up and a
    * region × year roll-up, one-task against stored-partition reads. A
    * lone client's one-task read is faster at 1–4 MB (0.66–1.00 of the
    * stored-partition median) and crosses over between 5 and 7 MB
    * (0.73–1.21); four concurrent clients keep it faster up to 16 MB
    * (0.54–0.90) and cross over near 33 MB. The saturated sf0.1 pre-aggregate grain
    * (25 nations × 25 brands × 84 months) stores about 4.4 MB. */
  val SmallBytes: Long = 5L << 20

  /** One stored artifact: the persisted Dataset [[clear]] unpersists,
    * the leaf every consumer reads, and what the eager count stored —
    * the cached batches' bytes and partition count, read once, when the
    * entry is made. */
  final class Stored private[SessionCache] (private[SessionCache] val persisted: DataFrame,
                                            val leaf: DataFrame, val bytes: Long, val partitions: Int) {
    @volatile private var servedOnce = false

    /** The leaf as a serving reader reads it ([[serve]]): one partition
      * when the artifact is at most [[SmallBytes]], the stored partitions
      * otherwise. Built once per entry. */
    lazy val served: DataFrame = {
      servedOnce = true
      if (bytes <= SmallBytes) leaf.coalesce(1) else leaf
    }

    /** Whether a serving reader has read this artifact as one partition. */
    def onePartition: Boolean = servedOnce && bytes <= SmallBytes
  }

  /** One key's value, built at most once: the first caller runs the
    * build, and a caller that arrives while it runs waits for that build
    * instead of starting its own (two racing builds of one artifact would
    * persist one plan twice). A build that throws leaves nothing built;
    * [[once]] then drops the slot, so the next caller builds afresh. */
  private final class Slot[T](build: => T) {
    @volatile var built: Option[T] = None
    def value: T = built.getOrElse(synchronized {
      if (built.isEmpty) built = Some(build)
      built.get
    })
  }

  private type Slots[T] = scala.collection.concurrent.TrieMap[(SparkSession, String), Slot[T]]

  private val cache: Slots[Stored] = scala.collection.concurrent.TrieMap.empty

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

  def getOrBuild(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    entry(spark, key)(build).leaf

  /** [[getOrBuild]] for a serving reader — an interactive request that
    * rolls up, pages or filters the artifact and collects a bounded
    * result: a small artifact is read as one partition ([[Stored.served]]). */
  def serve(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    entry(spark, key)(build).served

  /** The built entries of `spark` by key. */
  def stored(spark: SparkSession): Map[String, Stored] =
    cache.collect { case ((s, k), slot) if s eq spark => slot.built.map(k -> _) }.flatten.toMap

  /** The value of `key` in `slots`, built once per session: a miss runs
    * `build` in the key's [[Slot]] and logs its exclusive seconds. Racing
    * misses may each make a Slot, but the map keeps one for both. */
  private def once[T](slots: Slots[T], spark: SparkSession, key: String)(build: => T): T = {
    slots.keys.filter(_._1.sparkContext.isStopped).foreach(slots.remove)
    val k = (spark, key)
    val slot = slots.getOrElseUpdate(k, new Slot({
      val (v, secs) = exclusive(build)
      recordBuild(spark, key, secs)
      v
    }))
    try slot.value
    catch { case t: Throwable => slots.remove(k, slot); throw t }
  }

  private def entry(spark: SparkSession, key: String)(build: => DataFrame): Stored =
    once(cache, spark, key) {
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
      val persisted = build.repartition()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted.count()
      val leaf = org.apache.spark.sql.CachedLeaf.of(persisted)
      // The count has run, so the relation's size accumulator is exact.
      val rel = leaf.queryExecution.analyzed.collectFirst { case r: InMemoryRelation => r }.get
      new Stored(persisted, leaf, rel.cacheBuilder.sizeInBytesStats.value,
        rel.cacheBuilder.cachedColumnBuffers.getNumPartitions)
    }

  /** Session-keyed memo for an arbitrary trained-model value (codebooks,
    * LUT plans, driver-side state) — the [[getOrBuild]] pattern without
    * persist management: the builder owns any persistence of the
    * DataFrames it embeds. Model builders run their own actions (k-means
    * fits, codebook training), so timing the build captures the real
    * cost. */
  private val values: Slots[Any] = scala.collection.concurrent.TrieMap.empty

  def memo[T](spark: SparkSession, key: String)(build: => T): T =
    once(values, spark, key)(build).asInstanceOf[T]

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
      cache.remove(k).flatMap(_.built).foreach(_.persisted.unpersist(blocking = false))
    }
    values.keys.filter(_._1 eq spark).foreach(values.remove)
  }
}
