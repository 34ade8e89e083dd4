package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The claimant of a key under [[FirstClaims.fold]]: one long per key
  * (a doc, media or day id). Top-level + public for Spark's state
  * encoder codegen, like [[SessionState]]. */
final case class Claim(first: Long)

/** The keyed-state protocol of the streaming claim twins (exact dedup,
  * LSH / SimHash / landmark match detection, gram claims, first-seen
  * users), written once. */
private[streaming] object FirstClaims {

  /** First arrival claims a key; later arrivals follow it.
    *
    * Input: `rows` decodes as `R`; a row with a null in any column is
    * dropped first (keyed state cannot group a null key, and a null id
    * cannot claim). Per key and micro-batch: if the key is unclaimed,
    * the row with the lowest `id` claims it (state ← `claim(row)`) and is
    * emitted as `emit(row, None)`; every other row of the batch is a
    * follower, `emit(row, Some(claim))`. A key claimed in an earlier
    * batch has only followers. So within one micro-batch "earlier" =
    * lower id, and a single-batch run reproduces the batch min-id
    * operator; across batches the contract is first-arrival-wins — an
    * Append stream cannot retract an emitted claim.
    *
    * State is one `S` per distinct key, growing without bound over the
    * stream's lifetime. `stateTtl` bounds it: a key idle for longer than
    * the TTL is evicted (processing-time timeout, refreshed on every
    * arrival), turning lifetime claims into sliding-window claims — an
    * arrival AFTER eviction claims afresh. Leave it None for exact
    * claims over a bounded backfill.
    *
    * Trigger caveat: under a processing-time timeout the query ALWAYS
    * has potential future work (FlatMapGroupsWithStateExec
    * .shouldRunAnotherBatch is unconditionally true), so a
    * Trigger.AvailableNow run never self-terminates — it idles in
    * no-data batches waiting for the TTL clock. TTL'd queries belong on
    * a continuous trigger; a bounded drain must use
    * processAllAvailable() + stop() (StreamingSpec's drainAndStop). */
  def fold[R: Encoder, K: Encoder, S: Encoder, O: Encoder](
      rows: Dataset[_], stateTtl: Option[java.time.Duration])(
      key: R => K, id: R => Long, claim: R => S)(
      emit: (R, Option[S]) => Option[O]): Dataset[O] = {
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.na.drop().as[R].groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout) {
        (_: K, it: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toVector.sortBy(id)
            val out = state.getOption match {
              case Some(c) => batch.iterator.flatMap(r => emit(r, Some(c)))
              case None =>
                val c = claim(batch.head)
                state.update(c)
                emit(batch.head, None).iterator ++
                  batch.iterator.drop(1).flatMap(r => emit(r, Some(c)))
            }
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out
          }
      }
  }
}
