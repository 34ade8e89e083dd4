package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale tooling (SURVEY.md §7.4 / §4): skew salting and Bloom-pruned
  * joins — the two manual levers that complement AQE on a real
  * cluster. */
object ScaleOps {

  /** Salted equi-join for skewed keys: the skewed (large) side gets a
    * random salt in [0, salt); the small side is exploded across all salt
    * values. Same rows as a plain inner equi-join, but hot keys spread
    * over `salt` reducers instead of one. Use when AQE skew handling
    * isn't available (e.g. a forced shuffle plan) or keys are
    * pathologically hot. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salt: Int = 8): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      (rand(seed = 42) * salt).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Build a Bloom filter over `small`'s join keys, distributed: each
    * partition folds its keys into a fixed-size word array (map-side,
    * no shuffle of keys), and the arrays OR together on the driver —
    * driver state is `2^log2Bits` BITS regardless of row count (the
    * model-sized-driver-state rule). Returns the wire form consumed by
    * `graft_bloom_contains`. An empty build side yields the all-zero
    * filter, which rejects every probe — the correct semi-join result. */
  def bloomFilterB64(small: DataFrame, keyCol: String,
                     log2Bits: Int = 20, k: Int = 5): String = {
    require(log2Bits >= 6 && log2Bits <= 30, s"log2Bits out of range: $log2Bits")
    val numWords = 1 << (log2Bits - 6)
    val mask = (1 << log2Bits) - 1
    val keys = small.select(col(keyCol).cast("long").as("k")).na.drop()
    val words = keys.queryExecution.toRdd
      .treeAggregate(new Array[Long](numWords))(
        seqOp = (w, row) => {
          graft.functions.BloomCodec.add(w, mask, k, row.getLong(0)); w
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
        })
    graft.functions.BloomCodec.encode(k, words)
  }

  /** Two-phase runtime-filtered equi-join: build a Bloom filter from the
    * (already filtered) small side, prune the big side BEFORE its shuffle
    * with the codegen'd `graft_bloom_contains` probe, then run the exact
    * join — false positives drop out there, so the result is row-identical
    * to the plain join (which is what the q141 oracle checks). At 100 TB
    * this is the difference between shuffling the whole fact table and
    * shuffling only the ~selectivity fraction that can possibly match;
    * it complements `broadcast()` (which removes the shuffle but caps the
    * build side by executor memory — a Bloom filter caps it by BITS). */
  def bloomPruneJoin(big: DataFrame, small: DataFrame,
                     bigKey: String, smallKey: String,
                     log2Bits: Int = 20, k: Int = 5): DataFrame = {
    val b64 = bloomFilterB64(small, smallKey, log2Bits, k)
    graft.functions.GraftFunctions.register(big.sparkSession)
    big.where(call_function("graft_bloom_contains",
        col(bigKey).cast("long"), lit(b64)))
      .join(small, col(bigKey) === col(smallKey))
  }
}
