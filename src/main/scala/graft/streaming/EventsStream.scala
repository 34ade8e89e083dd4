package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user open-session accumulator (flatMapGroupsWithState state). Kept
  * top-level and public: Spark's state encoder codegen needs accessible
  * constructor + accessors. Times in MICROseconds — `Timestamp.getTime`
  * alone would truncate to ms and diverge from the batch twin. */
final case class SessionState(startUs: Long, endUs: Long, n: Long)

/** Per-user latest-click state for streaming as-of attribution (times in
  * µs, like [[SessionState]]). */
final case class LastClick(tsUs: Long, id: Long, value: Double)

/** Per-user funnel progression state: first-completion time (µs) of each
  * stage reached so far (index = stage), plus bounded per-stage candidate
  * times for stages not yet reached — so a future-stage event arriving in
  * an EARLIER micro-batch than its predecessor's completion still counts
  * once the predecessor lands (out-of-order file delivery). Candidates
  * are capped at the smallest [[EventsStream.MaxPendingPerStage]] per
  * stage, keeping state O(stages), not O(events). */
final case class FunnelState(stageTimesUs: List[Long],
                             pendingUs: List[List[Long]])

/** Per-series one-sided CUSUM registers (streaming drift state): the
  * running statistic, its maximum, and the observation count — three
  * longs per series. Top-level + public for Spark's state encoder
  * codegen, like [[SessionState]]. */
final case class CusumState(s: Long, smax: Long, n: Long)
final case class CusumUpdate(event_type: String, n_seen: Long,
                             s: Long, s_max: Long)

/** Streaming skyline register state/update: the maintained 2-D Pareto
  * frontier over (value cents, event time µs) — q233's merge pass
  * arriving incrementally. `packed` flattens the frontier as
  * (v, t, v, t, …) sorted, so the spec compares it as a value. The
  * frontier is a function of the point SET (insert order and batch
  * splits can't change it — Skyline.insert2's property spec), and the
  * state is output-sized by the same argument as the batch merge. */
final case class SkyState(pts: List[(Long, Long)])
final case class SkyUpdate(n_seen: Long, n_frontier: Int,
                           packed: Seq[Long])

/** DGIM register state/update: the O(log²N) sliding-window bit
  * counter (ext.Dgim) as keyed streaming state; `packed` flattens the
  * bucket list as (size, end, size, end, …) for the state encoder. */
final case class DgimState(idx: Long, packed: Seq[Long])
final case class DgimUpdate(n_seen: Long, n_buckets: Int, estimate: Long)

/** High-water-mark register per event_type — the streaming face of
  * q259's watermark-sizing audit: state is (hwm, n, three late
  * counters), O(1) per key at any scale. hwmUs = Long.MinValue encodes
  * "nothing seen yet". */
final case class HwmState(hwmUs: Long, n: Long, late1s: Long,
                          late10s: Long, late60s: Long)
final case class HwmUpdate(event_type: String, n_seen: Long, hwm_us: Long,
                           n_late_1s: Long, n_late_10s: Long,
                           n_late_60s: Long)

/** q-digest quantile register per event_type (the streaming face of
  * q275): `packed` flattens the ≤ 3k digest nodes as (node, count,
  * node, count, …) for the state encoder — bounded state whatever the
  * value universe or arrival count. */
final case class QdState(n: Long, packed: Seq[Long])
final case class QdUpdate(event_type: String, n_seen: Long, n_nodes: Int,
                          p50: Long, p95: Long, err_bound: Long)

/** Structured Streaming surface over the `events` table (SURVEY.md §2.10
  * Q5 — extension per BASELINE.json; the reference itself is batch/async
  * only).
  *
  * Scale notes: watermark + tumbling window = bounded state; dedup keys
  * expire with the watermark; sessionization state is per-user and
  * emitted+dropped on event-time timeout — all three are the canonical
  * unbounded-stream patterns that survive 100 TB/day ingest.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  final case class FirstSeen(user_id: Long, first_day: java.sql.Timestamp)

  final case class Attribution(event_id: Long, user_id: Long,
                               ts: java.sql.Timestamp, value: Double,
                               click_event_id: Long,
                               click_ts: java.sql.Timestamp,
                               click_value: Double)

  /** Tumbling 1 h windowed counts/sums with a 1 h watermark — streaming
    * twin of the batch q19_events_window. */
  def windowedStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Exactly-once-per-event-id dedup within the watermark horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id", "ts")

  /** Streaming first-seen detection — the incremental twin of the q118
    * new-user curve's per-user minimum: one emitted row per user at
    * first arrival, carrying that batch's earliest event day. A
    * [[FirstClaims.fold]] keyed on the user with the event day as the
    * claim id: the earliest day claims, and state is that one long per
    * seen user (O(distinct users)); a single-batch run reproduces the
    * batch first-seen table exactly (StreamingSpec-pinned). Rows with a
    * null user or day are dropped.
    *
    * Contract across batches is FIRST-ARRIVAL-WINS: an append-mode
    * stream cannot retract an emitted row, so a late batch carrying an
    * earlier event day for an already-seen user never corrects the
    * emitted first_day (the batch q118 over the same closed input would
    * show the earlier day — the lateness caveat in COVERAGE.md §2.10).
    * Downstreams needing corrected days should treat this stream as the
    * arrival log and re-derive min(day) in batch.
    *
    * `stateTtl` bounds the otherwise O(distinct users)-forever state
    * with the fold's contract: a user idle past the TTL is evicted and
    * would re-emit on return — lifetime first-seen becomes
    * sliding-horizon first-seen. */
  def firstSeenUsers(spark: SparkSession, events: DataFrame,
                     stateTtl: Option[java.time.Duration] = None): Dataset[FirstSeen] = {
    import spark.implicits._
    FirstClaims.fold[(Long, java.sql.Timestamp), Long, Claim, FirstSeen](
      events.select(col("user_id").cast("long"),
        date_trunc("day", col("ts")).as("day")), stateTtl)(
      _._1, _._2.getTime, r => Claim(r._2.getTime)) { (r, claimant) =>
      Option.when(claimant.isEmpty)(FirstSeen(r._1, r._2))
    }
  }

  /** Stream-static point-in-time dimension enrichment — the streaming
    * twin of the batch q102 interval lookup: each streaming event joins
    * the STATIC SCD-2 dimension on its key and keeps the version whose
    * `[valid_from, valid_to)` interval contains the event time. The
    * static side is stateless per micro-batch (re-planned each batch,
    * broadcast when small), so arbitrarily late events still enrich
    * against the full dimension — the canonical Structured Streaming
    * dimension-join shape; no watermark or stream-side state at all.
    * `dim` columns: (user_id, ts = valid_from, priority, version,
    * valid_to) — [[graft.queries.AnalyticsQueries.scdIntervals]]. */
  def enrichStaticDim(events: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("user_id").as("d_user"),
      col("ts").as("valid_from"), col("priority"), col("version"),
      col("valid_to"))
    events.join(d,
        events("user_id") === d("d_user") &&
          events("ts") >= d("valid_from") && events("ts") < d("valid_to"))
      .select(events("event_id"), events("user_id"), col("event_type"),
        col("version"), col("priority"))
  }

  /** Streaming twin of q233: maintain the (value, recency) Pareto
    * frontier of events as keyed state — each arrival is dropped if
    * dominated or inserted while pruning what it dominates
    * (Skyline.insert2). One global register (the frontier IS the
    * output-sized merge state); n_seen counts arrivals folded. */
  def skylineRegister(spark: SparkSession, events: DataFrame)
      : Dataset[SkyUpdate] = {
    import spark.implicits._
    events.select(expr("CAST(floor(value * 100) AS BIGINT)").as("v"),
        unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .mapGroupsWithState[SkyState, SkyUpdate](GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[SkyState]) =>
          var pts = state.getOption.map(_.pts).getOrElse(Nil)
          var n = 0L
          it.foreach { p => pts = graft.ext.Skyline.insert2(pts, p); n += 1 }
          state.update(SkyState(pts))
          SkyUpdate(n, pts.length,
            pts.sorted.flatMap(p => Seq(p._1, p._2)))
      }
  }

  /** DGIM "purchases in the last n events" register (Datar et al.
    * 2002): ≤ 2 buckets per power-of-two size, estimate within 50% by
    * theorem — answered at ingest from O(log²n) state, no event
    * storage. Order contract (ts, event_id), the CUSUM discipline;
    * StreamingSpec pins register ≡ the pure ordered fold and the
    * error bound against the exact window count. */
  def dgimRegister(spark: SparkSession, events: DataFrame, n: Long)
      : Dataset[DgimUpdate] = {
    import spark.implicits._
    events.select(col("ts"), col("event_id"),
        (col("event_type") === lit("purchase")).as("bit"))
      .as[(java.sql.Timestamp, Long, Boolean)]
      .groupByKey(_ => 0)
      .mapGroupsWithState[DgimState, DgimUpdate](GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[DgimState]) =>
          var st = state.getOption
            .map(s => graft.ext.Dgim.State(s.idx,
              s.packed.grouped(2).map(p => (p(0), p(1))).toList))
            .getOrElse(graft.ext.Dgim.empty)
          it.toArray.sortBy(r => (toUs(r._1), r._2)).foreach { r =>
            st = graft.ext.Dgim.update(st, r._3, n)
          }
          state.update(DgimState(st.idx,
            st.buckets.flatMap(p => Seq(p._1, p._2))))
          DgimUpdate(st.idx, st.buckets.length, graft.ext.Dgim.estimate(st))
      }
  }

  /** Per-series high-water-mark register — the streaming face of the
    * q259 watermark-sizing audit: maintains the largest event time
    * seen and how many events arrived later than it by more than
    * 1 s / 10 s / 60 s. State is O(1) per series at any corpus size —
    * this IS the arithmetic Spark's own watermark runs, kept per-key
    * and with the lateness histogram a deployment reads to size its
    * delay. Events fold in q259's simulated bounded-disorder arrival
    * order (md5 permutation within 64-id blocks, here series-local so
    * the key partitions the work): an event is late at threshold W iff
    * hwm − ts > W at its arrival, strictly — the same predicate as the
    * batch sweep. StreamingSpec pins the fold ≡ the ordered batch
    * replay and the state carry across micro-batches. */
  def hwmRegisters(spark: SparkSession, events: DataFrame): Dataset[HwmUpdate] = {
    import spark.implicits._
    events.select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("event_id div 64").as("blk"),
        md5(col("event_id").cast("string").cast("binary")).as("h"))
      .as[(String, Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[HwmState, HwmUpdate](GroupStateTimeout.NoTimeout()) {
        case (typ, it, state: GroupState[HwmState]) =>
          val prev = state.getOption.getOrElse(
            HwmState(Long.MinValue, 0L, 0L, 0L, 0L))
          var hwm = prev.hwmUs
          var n = prev.n
          var l1 = prev.late1s
          var l10 = prev.late10s
          var l60 = prev.late60s
          it.toArray.sortBy(r => (r._4, r._5, r._2)).foreach { r =>
            val us = r._3
            if (hwm != Long.MinValue) {
              val late = hwm - us
              if (late > 1000000L) l1 += 1
              if (late > 10000000L) l10 += 1
              if (late > 60000000L) l60 += 1
            }
            if (us > hwm) hwm = us
            n += 1
          }
          state.update(HwmState(hwm, n, l1, l10, l60))
          HwmUpdate(typ, n, hwm, l1, l10, l60)
      }
  }

  /** Value-bucket count registers — the streaming face of q269's
    * global order statistics: the batch op's first stage is a
    * bucket-count table, and that table is ADD-mergeable, so a built-in
    * `count` run on a stream in Update mode maintains it per arrival as
    * one O(1) state-store counter per bucket (key space bounded by
    * value-range/width, the same bound the batch op relies on). Rank
    * location — "which bucket holds the p-th value" — is
    * then query-time arithmetic over the register table, exactly the
    * batch bucket-prefix leg; only the within-bucket refinement still
    * reads data, and only the ONE host bucket. Order-invariant facts
    * only (counts), so arrival order cannot matter by construction. */
  def valueBucketRegisters(events: DataFrame, widthMilli: Long): DataFrame =
    events
      .groupBy(expr(s"(CAST(floor(value * 1000) AS BIGINT)) div $widthMilli")
        .as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Per-event_type q-digest quantile registers — the streaming face of
    * q275: each arrival's micro-quantized value folds into the keyed
    * ≤ 3k-node digest (ext.QDigest), and every micro-batch emits the
    * register's current p50/p95 answers with the theorem error bound
    * alongside. State restores by replaying the stored (node, count)
    * pairs — digest node counts are add-mergeable, so the restore is
    * exact — and stays ≤ 3k nodes at ANY arrival count or value
    * universe: the bounded-state property that lets an ingest pipeline
    * answer "p95 so far, per type" without storing events. Digest
    * CONTENT depends on fold order (like the batch build's merge
    * tree); the register contract is therefore the q275 discipline —
    * n_seen is exact, and the answers are within ± err_bound ranks of
    * their targets (StreamingSpec pins both against a batch replay). */
  def qdigestRegisters(spark: SparkSession, events: DataFrame,
                       logU: Int = 30, k: Int = 2000): Dataset[QdUpdate] = {
    import spark.implicits._
    val u = 1L << logU
    events
      .select(col("event_type"),
        least(greatest(floor(col("value") * lit(1000000d)).cast("long"),
          lit(0L)), lit(u - 1L)).as("vq"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[QdState, QdUpdate](GroupStateTimeout.NoTimeout()) {
        case (typ, it, state: GroupState[QdState]) =>
          val b = new graft.ext.QDigest.Builder(logU, k)
          state.getOption.foreach(_.packed.grouped(2)
            .foreach(p => b.putNode(p(0), p(1))))
          it.foreach(r => b.add(r._2))
          val d = b.result()
          state.update(QdState(d.n,
            d.nodes.toSeq.sortBy(_._1).flatMap(p => Seq(p._1, p._2))))
          def ans(phiPpm: Long): Long =
            graft.ext.QDigest.quantile(d,
              math.max(1L, (phiPpm * d.n + 999999L) / 1000000L))
          QdUpdate(typ, d.n, d.nodes.size, ans(500000L), ans(950000L),
            d.errBoundRanks)
      }
  }

  /** Streaming one-sided CUSUM drift registers (Page 1954) — the online
    * sibling of q161's batch prefix-sum identity and the third member
    * of the drift family beside the PSI bin registers: per series the
    * classic per-observation recursion `S := max(0, S + (x − k))` folds
    * arrivals against a FROZEN reference level `kMicro` (micro-units;
    * in production k is a calibrated artifact exactly like the PSI
    * reference bins — q161's in-query mean IS that calibration run).
    * Arrivals fold in (ts, event_id) order within each micro-batch, so
    * a single-batch run reproduces the ordered batch fold exactly
    * (StreamingSpec-pinned); across batches the state carries the fold
    * forward — three longs per series. Alarming is a downstream
    * predicate on `s_max` (kept out of the register layer, like the
    * PSI divergence computation). */
  def cusumRegisters(spark: SparkSession, events: DataFrame,
                     kMicro: Long): Dataset[CusumUpdate] = {
    import spark.implicits._
    events.select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
      .as[(String, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CusumState, CusumUpdate](GroupStateTimeout.NoTimeout()) {
        case (typ, it, state: GroupState[CusumState]) =>
          val prev = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
          var s = prev.s
          var smax = prev.smax
          var n = prev.n
          it.toArray.sortBy(r => (toUs(r._2), r._3)).foreach { r =>
            s = math.max(0L, s + (r._4 - kMicro))
            if (s > smax) smax = s
            n += 1
          }
          state.update(CusumState(s, smax, n))
          CusumUpdate(typ, n, s, smax)
      }
  }

  private def toUs(t: java.sql.Timestamp): Long =
    (t.getTime / 1000) * 1000000L + t.getNanos / 1000

  private def fromUs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Streaming twin of the batch as-of attribution (q53 /
    * [[graft.ops.AsOfJoin]]): each purchase is attributed to the user's
    * most recent click at-or-before it. Per-user state is ONE record (the
    * latest click seen) — the streaming form of the as-of join needs no
    * right-side buffering at all, because "latest at-or-before" is a
    * running fold over the keyed stream; state is O(distinct users),
    * never O(events). In-batch ordering mirrors the batch operator's
    * window sort: (time, clicks-before-purchases, id) — a click AT the
    * purchase instant attributes, equal-time clicks resolve to the max
    * id. Events arriving across micro-batches later than an already-
    * emitted purchase cannot retro-attribute it (the batch twin's global
    * sort can) — the standard streaming-lateness caveat, same contract as
    * [[sessionize]]'s watermark. */
  def attributeClicks(spark: SparkSession, events: DataFrame): Dataset[Attribution] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .where(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[LastClick]) =>
          val (out, last) = attributeGroup(userId, it.toSeq, state.getOption)
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Pure per-group fold behind [[attributeClicks]] (extracted so the
    * cross-batch edge cases are unit-testable without a streaming
    * harness). Returns (attributions to emit, updated latest-click
    * state). */
  private[graft] def attributeGroup(userId: Long, events: Seq[Event],
      initial: Option[LastClick]): (Seq[Attribution], Option[LastClick]) = {
    val sorted = events.sortBy(e =>
      (toUs(e.ts), if (e.event_type == "click") 0 else 1, e.event_id))
    val out = Seq.newBuilder[Attribution]
    var last = initial
    sorted.foreach { e =>
      val t = toUs(e.ts)
      if (e.event_type == "click") {
        if (last.forall(s => s.tsUs < t || (s.tsUs == t && s.id < e.event_id)))
          last = Some(LastClick(t, e.event_id, e.value))
      } else last.foreach { s =>
        // Guard against a late purchase arriving in a LATER batch than a
        // click that post-dates it: state may hold a click from the
        // purchase's future, which must not attribute (the batch twin
        // matches at-or-before only).
        if (s.tsUs <= t)
          out += Attribution(e.event_id, userId, e.ts, e.value,
            s.id, fromUs(s.tsUs), s.value)
      }
    }
    (out.result(), last)
  }

  final case class StageCompletion(user_id: Long, stage: Int,
                                   stage_type: String,
                                   at: java.sql.Timestamp)

  /** Candidate-buffer cap per pending stage (smallest times kept). A
    * flood of out-of-order future-stage events beyond the cap may emit a
    * later-than-minimal completion time — the documented bounded-state
    * trade-off. */
  val MaxPendingPerStage = 64

  /** Streaming twin of the batch funnel (q70 / [[graft.ops.Funnel]]):
    * emits a StageCompletion the first time a user reaches each stage,
    * where stage i requires an event of type stages(i) strictly after
    * the stage-(i-1) completion. Per-user state is the reached-stage
    * times plus a BOUNDED candidate buffer per unreached stage, so
    * future-stage events that arrive in an earlier micro-batch than
    * their predecessor's completion still cascade once it lands.
    *
    * A single-batch run reproduces the batch stageTimes exactly
    * (StreamingSpec-pinned); the cross-batch cascade is unit-tested via
    * [[funnelGroup]]. A late event can still never retro-improve an
    * already-EMITTED completion (Append mode cannot retract). */
  def funnelProgress(spark: SparkSession, events: DataFrame,
                     stages: Seq[String]): Dataset[StageCompletion] = {
    import spark.implicits._
    require(stages.nonEmpty, "at least one funnel stage")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    val stageIdx = stages.zipWithIndex.toMap
    val names = stages.toIndexedSeq
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .where(col("event_type").isin(stages: _*))
      .withWatermark("ts", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageCompletion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, it, state: GroupState[FunnelState]) =>
          val (out, next) = funnelGroup(userId, it.toSeq, state.getOption,
            stageIdx, names)
          state.update(next)
          out.iterator
      }
  }

  /** Pure per-group fold behind [[funnelProgress]] (extracted so the
    * cross-batch cascade is unit-testable without a streaming harness).
    * Inserts this batch's events into the pending buffers, then
    * repeatedly completes the next unreached stage at its smallest
    * candidate strictly after the previous completion. */
  private[graft] def funnelGroup(userId: Long, events: Seq[Event],
      initial: Option[FunnelState], stageIdx: Map[String, Int],
      names: IndexedSeq[String]): (Seq[StageCompletion], FunnelState) = {
    val n = names.length
    var reached = initial.map(_.stageTimesUs).getOrElse(Nil)
    val pending = Array.fill(n)(List.empty[Long])
    initial.foreach(_.pendingUs.zipWithIndex.foreach { case (l, i) =>
      if (i < n) pending(i) = l
    })
    events.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
      val i = stageIdx(e.event_type)
      if (i >= reached.length)
        pending(i) = (toUs(e.ts) :: pending(i)).sorted
          .take(EventsStream.MaxPendingPerStage)
    }
    val out = Seq.newBuilder[StageCompletion]
    var progressed = true
    while (progressed && reached.length < n) {
      val i = reached.length
      val prev = reached.lastOption
      pending(i).find(t => prev.forall(t > _)) match {
        case Some(t) =>
          reached = reached :+ t
          pending(i) = Nil
          out += StageCompletion(userId, i + 1, names(i), fromUs(t))
        case None =>
          // Prune dead candidates (<= predecessor completion): they can
          // never become eligible and must not crowd the bounded buffer
          // against genuinely live future candidates.
          pending(i) = pending(i).filter(t => prev.forall(t > _))
          progressed = false
      }
    }
    (out.result(), FunnelState(reached, pending.toList))
  }

  /** Stream-stream interval-join twin of the batch range join (q59 /
    * [[graft.ops.RangeJoin]]): purchases within one hour AFTER a click by
    * the same user, as they stream in. This is Spark's native
    * watermarked stream-stream join with a time-range predicate — state
    * on each side is bounded by the watermark + the one-hour range (the
    * streaming analogue of the batch operator's 2-bucket banding), so it
    * runs indefinitely without unbounded buffering. */
  def conversionPairs(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases, expr(
      "c_user = p_user AND p_ts > click_ts AND p_ts <= click_ts + interval 1 hour"))
      .select(col("click_id"), col("c_user").as("user_id"), col("click_ts"),
        col("purchase_id"), col("p_ts"), col("p_value"))
  }

  /** Gap-based sessionization (30 min idle closes a session) with
    * per-user state and event-time timeout. Sessions are emitted once
    * closed (by a later event or by watermark passage). */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMinutes: Int = 30): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, fromUs(s.startUs), fromUs(s.endUs), s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = toUs(e.ts)
              cur match {
                case Some(s) if t - s.endUs <= gapUs =>
                  // A late in-watermark event may predate the open
                  // session's start — extend both ends, like the batch
                  // twin's global sort would.
                  cur = Some(s.copy(startUs = math.min(s.startUs, t),
                    endUs = math.max(s.endUs, t), n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, fromUs(s.startUs), fromUs(s.endUs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** AMS tug-of-war F2 registers — the streaming face of q276, and the
    * most Spark-native register in the family: the sketch state is 126
    * plain integer counters (count + 125 sign-bit sums) under ADDITION,
    * so no custom keyed state is needed at all — a built-in streaming
    * global aggregate maintains the running sums in the state store
    * with map-side partial aggregation, and every micro-batch emits the
    * current self-join-size estimate of the user_id frequency vector
    * ("how skewed is the stream's key, continuously" — the number that
    * decides a shuffle strategy before the day's join runs). Sums are
    * order-invariant integers, so the emitted estimate after a full
    * drain EQUALS the batch q276 algebra over the same rows exactly
    * (StreamingSpec pins this). */
  def amsRegisters(events: DataFrame): DataFrame = {
    val agg = graft.ext.Sketches.amsChunks(events, "user_id")
      .groupBy()
      .agg(count(lit(1)).as("n"), graft.ext.Sketches.amsBitSums: _*)
    graft.ext.Sketches.amsEstimateFromSums(agg)
  }
}
