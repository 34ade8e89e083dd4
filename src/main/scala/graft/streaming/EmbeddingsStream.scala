package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Per-group QC moment register: every field folds with an associative,
  * commutative merge (`+`, `min`, `max`, elementwise `+`), so registers
  * accumulated over ANY micro-batch split of the input equal the batch
  * moments over the same rows. */
final case class QcMomentState(n: Long, nZero: Long, minDim: Long,
                               maxDim: Long, minNq: Long, maxNq: Long,
                               sumNq: Long, sx: Array[Long])
final case class QcMomentUpdate(grp: Int, n: Long, n_zero: Long,
                                min_dim: Long, max_dim: Long, min_nq: Long,
                                max_nq: Long, sum_nq: Long, sx: Array[Long])

/** Streaming twins of the embedding-table operators.
  *
  * The scale story mirrors the sketch registers
  * ([[graft.ext.Sketches.hllRegisters]] run on a stream): a 100 TB/day embedding
  * ingest never re-reads yesterday's vectors — per-group moment
  * registers (count, zero-count, dim envelope, norm envelope, Σ‖x‖²,
  * per-dimension ΣX) are fixed-size (5 scalars + one d-vector per
  * group), merge associatively, and finish into the exact batch QC
  * row ([[graft.ext.Similarity.qcStats]]) at read time. */
object EmbeddingsStream {

  /** Streaming QC moment registers — the incremental twin of
    * [[graft.ext.Similarity.qcStats]] (q127). State is one fixed-size
    * register per group (O(groups·dims), no TTL needed — the same
    * hard cap as the HLL/CMS registers). Emits the updated register per
    * group per micro-batch (Update output mode); finish with
    * [[qcFromRegisters]] on the final registers.
    *
    * Documented divergence from the batch twin (same contract as
    * [[DocumentsStream.dedupDocuments]]): null vectors are dropped here
    * (keyed state has no moments to fold for them), while the batch
    * operator counts the row in `n_vecs` with null norm columns. */
  def qcMomentUpdates(spark: SparkSession, emb: DataFrame,
                      vecCol: String = "embedding",
                      groupCol: String = "label"): Dataset[QcMomentUpdate] = {
    import spark.implicits._
    emb.select(col(groupCol).cast("int").as("grp"), col(vecCol).as("v"))
      .where(col("v").isNotNull)
      .as[(Int, Array[Float])]
      .map { case (g, v) =>
        (g, v.map(x => math.floor(x.toDouble * 1000).toLong))
      }
      .groupByKey(_._1)
      .mapGroupsWithState[QcMomentState, QcMomentUpdate](
        GroupStateTimeout.NoTimeout()) {
        case (g, it, state: GroupState[QcMomentState]) =>
          var s = state.getOption.getOrElse(
            QcMomentState(0L, 0L, Long.MaxValue, Long.MinValue,
              Long.MaxValue, Long.MinValue, 0L, Array.emptyLongArray))
          it.foreach { case (_, q) =>
            var i = 0; var nq = 0L
            while (i < q.length) { nq += q(i) * q(i); i += 1 }
            val sx =
              if (s.sx.length >= q.length) s.sx
              else java.util.Arrays.copyOf(s.sx, q.length)
            i = 0
            while (i < q.length) { sx(i) += q(i); i += 1 }
            s = QcMomentState(s.n + 1,
              s.nZero + (if (nq == 0L) 1L else 0L),
              math.min(s.minDim, q.length), math.max(s.maxDim, q.length),
              math.min(s.minNq, nq), math.max(s.maxNq, nq),
              s.sumNq + nq, sx)
          }
          state.update(s)
          QcMomentUpdate(g, s.n, s.nZero, s.minDim, s.maxDim,
            s.minNq, s.maxNq, s.sumNq, s.sx)
      }
  }

  /** Finish final QC registers into the batch [[graft.ext.Similarity
    * .qcStats]] schema — scatter = n·Σ‖x‖² − Σ_d(ΣX_d)², the identical
    * exact-integer algebra. `regs` must hold ONE (final) row per group;
    * `n` is monotone over updates, so `max_by(struct(...), n)` per group
    * selects it from an Update-mode emission log. */
  def qcFromRegisters(regs: DataFrame): DataFrame =
    regs.select(col("grp"), col("n").as("n_vecs"), col("n_zero"),
      col("min_dim"), col("max_dim"), col("min_nq"), col("max_nq"),
      col("sum_nq"),
      (col("n") * col("sum_nq") -
        aggregate(col("sx"), lit(0L), (acc, x) => acc + x * x))
        .as("scatter"))
}
