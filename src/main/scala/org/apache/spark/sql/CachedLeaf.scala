package org.apache.spark.sql

/** Spark-package factory for a DataFrame over a persisted Dataset's cache
  * entry alone. `classic.Dataset.ofRows` is private[sql]; this object is
  * the one place graft reaches it. */
object CachedLeaf {

  /** A DataFrame whose logical plan is `persisted`'s plan with its
    * CacheManager entry substituted — for a Dataset that is itself
    * cached, that is a single `InMemoryRelation` leaf. Consumers then
    * analyze a one-node plan, read the cached column batches with
    * pruning, and recompute a lost block from the relation's lineage. */
  def of(persisted: DataFrame): DataFrame = {
    val qe = persisted.queryExecution
    classic.Dataset.ofRows(qe.sparkSession, qe.withCachedData)
  }
}
