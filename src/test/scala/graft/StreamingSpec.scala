package graft

import graft.streaming.{EventsStream, TableStream}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Drain all available data and require CLEAN termination: a query
    * that terminated with an exception, or that is still running after
    * the wait (an AvailableNow drain that cannot finish), is a test
    * failure — r11 shipped a green suite over a `terminated with error`
    * log line because the old helper discarded awaitTermination's
    * result. */
  private def runAvailableNow(df: org.apache.spark.sql.DataFrame, name: String,
                              mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    val terminated =
      try q.awaitTermination(120000)
      catch { case e: Throwable => fail(s"query $name terminated with error", e) }
    q.exception.foreach(e => fail(s"query $name terminated with error", e))
    assert(terminated, s"query $name did not terminate within 120s")
  }

  /** Bounded drain for queries carrying a GroupState PROCESSING-TIME
    * timeout: under Trigger.AvailableNow such a query never
    * self-terminates (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    * unconditionally true with ProcessingTimeTimeout, so the trigger
    * loops no-data batches to fire future timeouts — awaitTermination
    * AND processAllAvailable both block forever), and a later
    * spark.stop() then kills it mid-plan with an INTERNAL_ERROR — the
    * r11 `doc_dedup_ttl` log line. Poll the sink to `minRows`, stop the
    * QUERY (clean interrupt: the stream thread's stopped flag is set
    * before the interrupt, unlike session stop), and require the stop
    * left no exception. */
  private def drainAndStop(df: org.apache.spark.sql.DataFrame, name: String,
                           mode: OutputMode, minRows: Long): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table(name).count() < minRows && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(spark.table(name).count() >= minRows,
        s"query $name: sink never reached $minRows rows")
    } finally q.stop()
    q.awaitTermination(30000)
    q.exception.foreach(e => fail(s"query $name failed during drain/stop", e))
  }

  /** `df` written as one parquet file `b<i>.parquet` into `dir`, stamped
    * with mtime i·10⁶ ms, so a stream with `maxFilesPerTrigger` 1 reads
    * a directory's files as micro-batches in index order. */
  private def writeBatch(dir: String, i: Int,
                         df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("batch_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, s"b$i.parquet")
    java.nio.file.Files.move(part.toPath, dst)
    dst.toFile.setLastModified(i * 1000000L)
  }

  /** `parts` written as b1.parquet, b2.parquet, … ([[writeBatch]]) into
    * a fresh directory. Returns the directory. */
  private def splitDir(prefix: String,
                       parts: org.apache.spark.sql.DataFrame*): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    parts.zipWithIndex.foreach { case (df, i) => writeBatch(dir, i + 1, df) }
    dir
  }

  /** `documents`-shaped rows `(doc_id, text)`. */
  private def docRows(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `events`-shaped rows `(event_id, ts, user_id, event_type, value)`. */
  private def eventRows(rows: (Long, java.sql.Timestamp, Long, String, Double)*)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("streaming windowed stats equal the batch aggregation (complete mode)") {
    val stream = EventsStream.windowedStats(TableStream.read(spark, sf, "events"))
    runAvailableNow(stream, "win_stats", OutputMode.Complete())
    val streamed = spark.table("win_stats")
      .select(col("hour"), col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toString).sorted
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("total_value"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty && (streamed sameElements batch))
  }

  test("streaming dedup drops same-batch duplicate event ids") {
    val dir = java.nio.file.Files.createTempDirectory("dup_events").toString
    val ev = Tables.events(spark, sf).limit(50)
    ev.union(ev).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val deduped = EventsStream.dedupEvents(TableStream.read(spark, dir, "events"))
    runAvailableNow(deduped, "dedup_ev", OutputMode.Append())
    assert(spark.table("dedup_ev").count() == 50)
  }

  test("streaming as-of attribution equals the batch q53 twin (single batch)") {
    val attributed = EventsStream.attributeClicks(spark,
      TableStream.read(spark, sf, "events"))
    runAvailableNow(attributed.toDF(), "attrib", OutputMode.Append())
    val streamed = spark.table("attrib")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz"),
        col("value"), col("click_event_id"),
        col("click_ts").cast("timestamp_ntz"), col("click_value"))
      .collect().map(_.toString).toSet
    // Dump-boundary transform on the batch side (since r8 the query
    // emits raw tz-aware timestamps; Verify.dumpAll applies the NTZ
    // cast) so both sides compare in NTZ.
    val batch = graft.queries.Parity.outputDoubles(
        SparkEntry.queries("q53_events_asof")(spark, sf))
      .select("event_id", "user_id", "ts", "value",
        "click_event_id", "click_ts", "click_value")
      .collect().map(_.toString).toSet
    // One file -> one micro-batch -> no cross-batch lateness: exact match.
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-static interval dimension join equals the batch q102 lookup") {
    val dim = graft.queries.AnalyticsQueries.scdIntervals(spark, sf)
    val enriched = EventsStream.enrichStaticDim(
      TableStream.read(spark, sf, "events").where(col("user_id") < 20), dim)
    runAvailableNow(enriched, "dim_enriched", OutputMode.Append())
    val streamed = spark.table("dim_enriched")
      .collect().map(_.toString).toSet
    val batch = SparkEntry.queries("q102_interval_lookup")(spark, sf)
      .collect().map(_.toString).toSet
    // the static dimension is fully visible to every micro-batch: exact match
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming first-seen users equal the batch q118 minima (single batch)") {
    val fs = EventsStream.firstSeenUsers(spark,
      TableStream.read(spark, sf, "events"))
    runAvailableNow(fs.toDF(), "first_seen", OutputMode.Append())
    val streamed = spark.table("first_seen")
      .select(col("user_id"), col("first_day").cast("timestamp_ntz"))
      .collect().map(_.toString).toSet
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("first_day"))
      .select(col("user_id"), col("first_day").cast("timestamp_ntz"))
      .collect().map(_.toString).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-stream interval join equals the batch range-join pairs") {
    val pairs = EventsStream.conversionPairs(TableStream.read(spark, sf, "events"))
    runAvailableNow(pairs, "conv_pairs", OutputMode.Append())
    val streamed = spark.table("conv_pairs")
      .select(col("click_id"), col("user_id"), col("click_ts").cast("timestamp_ntz"),
        col("purchase_id"), col("p_ts").cast("timestamp_ntz"), col("p_value"))
      .collect().map(_.toString).toSet
    val ev = Tables.events(spark, sf)
    val batch = graft.ops.RangeJoin.pairsWithinAfter(
        ev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts")),
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "ts", 3600000000L, Seq("event_id", "ts", "value"), "p_")
      .select(col("click_id"), col("user_id"), col("ts").cast("timestamp_ntz"),
        col("p_event_id"), col("p_ts").cast("timestamp_ntz"), col("p_value"))
      .collect().map(_.toString).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming sessionization closes every session except each user's last") {
    val sessions = EventsStream.sessionize(spark,
      TableStream.read(spark, sf, "events"))
    runAvailableNow(sessions.toDF(), "sessions", OutputMode.Append())
    // Both sides compare in NTZ: the streamed timestamps cast here, the
    // batch twin through the same dump-boundary transform Verify
    // applies (since r8 queries emit raw tz-aware timestamps).
    val streamed = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("timestamp_ntz"),
        col("session_end").cast("timestamp_ntz"), col("n_events"))
      .collect().map(_.toString).toSet
    val batch = graft.queries.Parity.outputDoubles(
      SparkEntry.queries("q45_events_sessionize")(spark, sf))
    val all = batch
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toString).toSet
    // Sessions closed by a successor event must stream out; the per-user
    // final session may or may not close depending on the watermark
    // timeout batch — so: nonFinal ⊆ streamed ⊆ all.
    val lastPerUser = batch.groupBy("user_id").agg(max("session_id").as("last_sid"))
    val nonFinal = batch.join(lastPerUser, Seq("user_id"))
      .where(col("session_id") < col("last_sid"))
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toString).toSet
    assert(streamed.nonEmpty)
    assert(nonFinal.subsetOf(streamed), "a successor-closed session did not stream out")
    assert(streamed.subsetOf(all), "streamed a session the batch twin does not have")
  }

  test("streaming funnel equals the batch stageTimes twin (single batch)") {
    val stages = Seq("view", "click", "purchase")
    val prog = EventsStream.funnelProgress(spark,
      TableStream.read(spark, sf, "events"), stages)
    runAvailableNow(prog.toDF(), "funnel_prog", OutputMode.Append())
    val streamed = spark.table("funnel_prog")
      .select(col("user_id"), col("stage"), col("at").cast("timestamp_ntz"))
      .collect().map(_.toString).toSet
    val st = graft.ops.Funnel.stageTimes(Tables.events(spark, sf),
      "user_id", "ts", "event_type", stages)
    val batch = stages.indices.flatMap { i =>
      st.where(col(s"t$i").isNotNull)
        .select(col("user_id"), lit(i + 1).cast("int").as("stage"),
          col(s"t$i").cast("timestamp_ntz").as("at"))
        .collect().map(_.toString)
    }.toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("funnelGroup: out-of-order cross-batch arrivals cascade on completion") {
    import graft.streaming.EventsStream.{Event, funnelGroup}
    def ev(id: Long, sec: Long, ty: String) =
      Event(id, new java.sql.Timestamp(sec * 1000L), 7L, ty, 0.0)
    val stages = IndexedSeq("view", "click", "purchase")
    val idx = stages.zipWithIndex.toMap
    // batch 1: click and purchase arrive BEFORE the view lands
    val (out1, st1) = funnelGroup(7L,
      Seq(ev(1, 1200, "click"), ev(2, 1230, "purchase")), None, idx, stages)
    assert(out1.isEmpty)
    // batch 2: the view (earlier event time) arrives -> all three cascade
    val (out2, st2) = funnelGroup(7L, Seq(ev(3, 1100, "view")),
      Some(st1), idx, stages)
    assert(out2.map(c => (c.stage, c.at.getTime / 1000L)) ==
      Seq((1, 1100L), (2, 1200L), (3, 1230L)))
    assert(st2.stageTimesUs.length == 3)
    // dead candidates (not strictly after the predecessor) never complete
    val (_, stA) = funnelGroup(8L, Seq(ev(5, 1100, "view")), None, idx, stages)
    val (out3, _) = funnelGroup(8L, Seq(ev(4, 1100, "click")), Some(stA),
      idx, stages)
    assert(out3.isEmpty)
  }

  test("streaming exact dedup equals the batch q22 twin (single batch)") {
    import graft.streaming.DocumentsStream
    val dd = DocumentsStream.dedupDocuments(spark,
      TableStream.read(spark, sf, "documents"))
    runAvailableNow(dd.toDF(), "doc_dedup", OutputMode.Append())
    val streamed = spark.table("doc_dedup")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.ext.Dedup.exactGroups(
        Tables.documents(spark, sf), "text", "doc_id")
      .select(col("content_hash"), col("canonical_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming exact dedup suppresses cross-batch duplicates") {
    import graft.streaming.DocumentsStream
    // batch 1: two contents; batch 2 (newer file): one dup of batch 1
    // (higher id — must NOT re-emit) + one new content
    val dir = splitDir("docs_2batch",
      docRows(1L -> "alpha beta", 2L -> "gamma"),
      docRows(3L -> "alpha beta", 4L -> "delta"))
    val dd = DocumentsStream.dedupDocuments(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(dd.toDF(), "doc_dedup_2b", OutputMode.Append())
    val got = spark.table("doc_dedup_2b")
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L, 2L, 4L), s"expected first-arrival canonicals, got $got")

    // With a state TTL that has not elapsed, behaviour is identical to
    // NoTimeout (dup suppressed across batches); this pins the
    // ProcessingTimeTimeout code path (state bounded at 100 TB/day ingest).
    val ddTtl = DocumentsStream.dedupDocuments(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)),
      stateTtl = Some(java.time.Duration.ofHours(1)))
    drainAndStop(ddTtl.toDF(), "doc_dedup_ttl", OutputMode.Append(), minRows = 3)
    val gotTtl = spark.table("doc_dedup_ttl")
      .collect().map(r => r.getLong(1)).toSet
    assert(gotTtl == Set(1L, 2L, 4L), s"TTL path diverged: $gotTtl")
  }

  test("streaming HLL registers equal the batch sketch (multi-batch merge)") {
    // two-batch split of the documents fixture
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_hll", a, bHalf)
    val updates = graft.ext.Sketches.hllRegisters(
      TableStream.read(spark, dir, "documents", Some(1)), "text", "source", 8)
    runAvailableNow(updates, "hll_regs", OutputMode.Update())
    // registers are max-monotone, so the final value per key is the max
    // over all emitted updates
    val streamed = spark.table("hll_regs")
      .groupBy(col("source"), col("bucket")).agg(max(col("r")).as("r"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val batch = graft.ext.Sketches.hllRegisters(docs, "text", "source", 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming CMS registers equal the batch sketch (multi-batch merge)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_cms", a, bHalf)
    // one (token, cnt = 1) row per occurrence
    val occurrences = graft.ext.TextAnalysis.tokenRows(
        TableStream.read(spark, dir, "documents", Some(1)), "text", "doc_id")
      .withColumn("cnt", lit(1L))
    val updates = graft.ext.Sketches.cmsRegisters(occurrences, 4, 64)
    runAvailableNow(updates, "cms_regs", OutputMode.Update())
    // counts are add-monotone, so the final value per key is the max
    // over all emitted running totals
    val streamed = spark.table("cms_regs")
      .groupBy(col("j"), col("bucket")).agg(max(col("bucket_sum")).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val tokenCounts = graft.ext.TextAnalysis.tokenRows(docs, "text", "doc_id")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val batch = graft.ext.Sketches.cmsRegisters(tokenCounts, 4, 64)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }
  test("streaming bootstrap registers equal the batch replicate sums (q204 fold)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_boot", a, bHalf)
    val updates = graft.ext.Sampling.bootstrapRegisters(
      graft.ext.TextAnalysis.withTokenProfile(
        TableStream.read(spark, dir, "documents", Some(1)), "text"), 16)
    runAvailableNow(updates, "boot_regs", OutputMode.Update())
    // both registers are add-monotone (w >= 0, quality + 50 >= 0), so
    // the final value per key is the max over emitted running totals
    val streamed = spark.table("boot_regs")
      .groupBy(col("source"), col("b"))
      .agg(max(col("swq50")).as("swq50"), max(col("sw")).as("sw"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the same register function over the static rows (q204's replicate sums)
    val batch = graft.ext.Sampling.bootstrapRegisters(
        graft.ext.TextAnalysis.withTokenProfile(docs, "text"), 16)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming gram (c1,c2) registers equal the batch first/second occurrence") {
    import graft.streaming.DocumentsStream
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_c12", a, bHalf)
    val updates = DocumentsStream.gramC12AtIngest(spark,
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates.toDF(), "c12_regs", OutputMode.Update())
    // both registers are min-monotone (c2 via the MaxValue sentinel)
    val streamed = spark.table("c12_regs")
      .groupBy(col("s")).agg(min(col("c1")).as("c1"), min(col("c2")).as("c2"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.getLong(2) == Long.MaxValue) None else Some(r.getLong(2)))).toSet
    val batch = graft.ext.Dedup.shingleRows(docs, "text", "doc_id", 3)
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("s")).orderBy(col("doc"))))
      .where(col("rn") <= 2)
      .groupBy(col("s"))
      .agg(min(when(col("rn") === 1, col("doc"))).as("c1"),
        min(when(col("rn") === 2, col("doc"))).as("c2"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming PSI bin registers equal the batch histogram (q119 bin formula)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    // "cur" population = odd doc ids (q119's split), streamed in two
    // batches; bin edges frozen from the full corpus like a calibrated
    // reference artifact
    val Row(gmin: Long, gmax: Long) =
      docs.agg(min(col("n_chars")), max(col("n_chars"))).head()
    val w = math.max((gmax - gmin + 63) / 64, 1L)
    val cur = docs.where(col("doc_id") % 2 === 1)
    val (a, bHalf) = (cur.where(col("doc_id") % 4 === 1),
      cur.where(col("doc_id") % 4 === 3))
    val dir = splitDir("docs_psi", a, bHalf)
    val updates = DocumentsStream.psiBinUpdates(
      TableStream.read(spark, dir, "documents", Some(1)), "n_chars", gmin, w)
    runAvailableNow(updates, "psi_regs", OutputMode.Update())
    val streamed = spark.table("psi_regs")
      .groupBy(col("bin")).agg(max(col("n")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = DocumentsStream.psiBinUpdates(cur, "n_chars", gmin, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming postings maintenance equals the batch inverted index (append-only)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_postings", a, bHalf)
    val updates = DocumentsStream.postingsUpdates(
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates, "postings_appends", OutputMode.Append())
    val streamed = spark.table("postings_appends")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ext.TextAnalysis.invertedPostings(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }


  test("streaming window-posting maintenance equals the batch span index (append-only)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_spanidx", a, bHalf)
    val updates = DocumentsStream.windowPostingsUpdates(
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates, "spanidx_appends", OutputMode.Append())
    val streamed = spark.table("spanidx_appends")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ext.Dedup.windowHashRows(docs, "text", "doc_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }


  test("streaming winnow fingerprint maintenance equals the batch winnow (append-only)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_winnow", a, bHalf)
    val updates = DocumentsStream.winnowFingerprintUpdates(
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates, "winnow_appends", OutputMode.Append())
    val streamed = spark.table("winnow_appends")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // The doc-local loop vs the packed-key window plan: row-identical —
    // each independently implements the rightmost-min selection rule.
    val batch = graft.ext.Dedup.winnowingFingerprints(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming run-collapse at ingest equals the batch q152 transform") {
    import graft.streaming.DocumentsStream
    val dir = java.nio.file.Files.createTempDirectory("docs_runcollapse")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    docs.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val updates = DocumentsStream.runCollapseUpdates(
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(updates, "runcollapse_appends", OutputMode.Append())
    val streamed = spark.table("runcollapse_appends")
      .collect().map(_.toSeq.toList).toSet
    val batch = graft.ext.TextAnalysis.collapseTokenRuns(docs, "text", "doc_id")
      .collect().map(_.toSeq.toList).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming MinHash signature maintenance equals the batch signatures (append-only)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_minhash", a, bHalf)
    val updates = DocumentsStream.minhashSignatureUpdates(
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates, "minhash_appends", OutputMode.Append())
    val streamed = spark.table("minhash_appends")
      .collect().map(_.toSeq.toList).toSet
    val batch = graft.ext.Dedup.minhashSignatures(docs, "text", "doc_id", 8)
      .collect().map(_.toSeq.toList).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming DSIR profile maintenance equals the batch bucket counts (append-only)") {
    import graft.streaming.DocumentsStream
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val (a, bHalf) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1))
    val dir = splitDir("docs_dsir", a, bHalf)
    val updates = DocumentsStream.dsirProfileUpdates(
      TableStream.read(spark, dir, "documents", Some(1)))
    runAvailableNow(updates, "dsir_appends", OutputMode.Append())
    val streamed = spark.table("dsir_appends")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ext.Sampling.dsirBucketCounts(docs, "text", "doc_id", 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming QC moment registers equal the batch embedding QC (multi-batch merge)") {
    import graft.streaming.EmbeddingsStream
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val (a, bHalf) = (emb.where(col("vec_id") % 2 === 0),
      emb.where(col("vec_id") % 2 === 1))
    val dir = splitDir("emb_qc", a, bHalf)
    val updates = EmbeddingsStream.qcMomentUpdates(spark,
      TableStream.read(spark, dir, "embeddings", Some(1)))
    runAvailableNow(updates.toDF(), "qc_regs", OutputMode.Update())
    // n is add-monotone over updates, so max_by(n) per group is the
    // final register; finish it into the batch QC schema.
    val finalRegs = spark.table("qc_regs")
      .groupBy(col("grp")).agg(max_by(
        struct(col("n"), col("n_zero"), col("min_dim"), col("max_dim"),
          col("min_nq"), col("max_nq"), col("sum_nq"), col("sx")),
        col("n")).as("s"))
      .select(col("grp"), col("s.*"))
    val streamed = EmbeddingsStream.qcFromRegisters(finalRegs)
      .collect().map(_.toSeq).map(s => (s.head, s.tail)).toMap
    val batch = graft.ext.Similarity
      .qcStats(emb, "vec_id", "embedding", "label")
      .collect().map(_.toSeq).map(s => (s.head, s.tail)).toMap
    assert(streamed.nonEmpty && streamed == batch)
    graft.ops.TransientCache.releaseAll()
  }

  test("streaming pre-aggregate maintenance equals the from-scratch build") {
    import graft.mdx.SalesCube
    import graft.streaming.PreAggMaintainer
    val cube = SalesCube.cube
    val pa = cube.preAggs.head
    val fact = Tables.lineitem(spark, sf)
    // Three disjoint fact slices as three parquet files -> three
    // micro-batches (maxFilesPerTrigger=1).
    val dir = java.nio.file.Files.createTempDirectory("preagg_stream")
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("preagg_slice").toString
      fact.where(col("l_orderkey") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(s"slice_$i.parquet"))
    }
    val maintainer = new PreAggMaintainer(spark, sf, cube, pa,
      java.nio.file.Files.createTempDirectory("preagg_state").resolve("Sales.base").toString)
    val stream = spark.readStream.schema(fact.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = maintainer.runner(stream,
      java.nio.file.Files.createTempDirectory("preagg_ckpt").toString)
    q.awaitTermination(180000)
    val maintained = maintainer.snapshot.get
    val full = graft.mdx.MdxLowerer.preAggregateSlice(spark, sf, cube, pa, fact)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
    // Folding three deltas must be BIT-identical to one full build.
    assert(rows(maintained) == rows(full))
  }
  test("a restarted maintainer continues from its stored aggregate; a replayed batch is not folded twice") {
    import graft.mdx.SalesCube
    import graft.streaming.PreAggMaintainer
    val cube = SalesCube.cube
    val pa = cube.preAggs.head
    val fact = Tables.lineitem(spark, sf)
    def slice(i: Int) = fact.where(col("l_orderkey") % 3 === i)
    val dir = java.nio.file.Files.createTempDirectory("preagg_restart")
    def addSlice(i: Int): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("preagg_slice").toString
      slice(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(s"slice_$i.parquet"))
    }
    val statePath = java.nio.file.Files.createTempDirectory("preagg_state")
      .resolve("Sales.base").toString
    val ckpt = java.nio.file.Files.createTempDirectory("preagg_ckpt").toString
    def drain(): PreAggMaintainer = {
      val m = new PreAggMaintainer(spark, sf, cube, pa, statePath)
      val stream = spark.readStream.schema(fact.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      val q = m.runner(stream, ckpt)
      assert(q.awaitTermination(180000), "maintainer did not drain")
      q.exception.foreach(e => fail("maintainer failed", e))
      m
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
    val full = rows(graft.mdx.MdxLowerer.preAggregateSlice(spark, sf, cube, pa, fact))

    // 1. Fold slices 0 and 1.
    addSlice(0); addSlice(1)
    drain()
    // 2. A NEW maintainer on the same state path and checkpoint sees only
    //    slice 2 on its stream, and must fold it into the stored
    //    aggregate — not into an empty one.
    addSlice(2)
    val restarted = drain()
    assert(rows(restarted.snapshot.get) == full,
      "the restarted maintainer lost the folds made before the restart")
    // 3. Redelivering a batch under a token the state already carries is
    //    a no-op: the SUM/COUNT partials are not counted twice.
    val marked = new java.io.File(statePath).list()
      .filter(_.startsWith("_maintained_by-")).map(_.stripPrefix("_maintained_by-"))
    assert(marked.length == 3, s"one marker per folded batch: ${marked.toSeq}")
    PreAggMaintainer.fold(spark, sf, cube, pa, statePath, slice(0), marked.head)
    assert(rows(restarted.snapshot.get) == full,
      "a replayed batch was folded twice")
  }

  test("multimodal decode runs unchanged on a stream and equals the batch q43") {
    import graft.ext.Multimodal
    // The decode stage is a stateless typed mapPartitions — the same
    // function must accept a streaming Dataset with no code change
    // (per-partition codec init is exactly the micro-batch contract).
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf))
    val dir = java.nio.file.Files.createTempDirectory("media_stream").toString
    media.write.mode("overwrite").parquet(dir)
    val streamed = Multimodal.decode(spark,
      spark.readStream.schema(media.schema).parquet(dir))
    runAvailableNow(streamed.toDF(), "media_decoded", OutputMode.Append())
    val got = spark.table("media_decoded").collect().map(_.toSeq).toSet
    val batch = Multimodal.decode(spark, media).toDF().collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == batch)
  }

  test("streaming LSH near-dup detection: single batch equals the bucket-min batch predicate") {
    import graft.streaming.DocumentsStream
    val matches = DocumentsStream.lshNearDupAtIngest(spark,
      TableStream.read(spark, sf, "documents"))
    runAvailableNow(matches.toDF(), "lsh_ingest_1b", OutputMode.Append())
    val got = spark.table("lsh_ingest_1b")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch reference: per (band, key) bucket, every non-min doc matches
    // the bucket min — the q23 banding predicate with earliest-partner
    val sigs = graft.ext.Dedup.minhashSignaturesTyped(
      Tables.documents(spark, sf), "text", "doc_id")
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("key"))
    }
    val expected = sigs
      .select(col("doc"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band"), col("bk.key"), col("doc"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1).iterator.flatMap { case ((band, key), rows) =>
        val docs = rows.map(_._2).sorted
        docs.drop(1).map(d => (band, key, d, docs.head))
      }.toSet
    assert(got.nonEmpty && got == expected)
  }

  test("streaming LSH near-dup detection flags a cross-batch re-crawl against the original") {
    import graft.streaming.DocumentsStream
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content with no overlap whatsoever here now"
    // batch 2: doc 3 = re-crawl of doc 1 (identical shingles -> identical
    // signature -> collides in ALL 4 bands, partner = original doc 1)
    val dir = splitDir("docs_lsh_2b", docRows(1L -> a, 2L -> b), docRows(3L -> a))
    val matches = DocumentsStream.lshNearDupAtIngest(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(matches.toDF(), "lsh_ingest_2b", OutputMode.Append())
    val got = spark.table("lsh_ingest_2b")
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3))).toSet
    assert(got == (0 until 4).map(band => (band, 3L, 1L)).toSet,
      s"expected doc 3 to match doc 1 in all bands, got $got")
  }

  test("streaming LSH near-dup detection: an unexpired state TTL changes no cross-batch match") {
    import graft.streaming.DocumentsStream
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content with no overlap whatsoever here now"
    val dir = splitDir("docs_lsh_ttl", docRows(1L -> a, 2L -> b), docRows(3L -> a))
    def matches(ttl: Option[java.time.Duration]) = DocumentsStream.lshNearDupAtIngest(
      spark, TableStream.read(spark, dir, "documents", Some(1)), stateTtl = ttl).toDF()
    runAvailableNow(matches(None), "lsh_2b_no_ttl", OutputMode.Append())
    val noTtl = spark.table("lsh_2b_no_ttl").collect().map(_.toString).toSet
    // the ProcessingTimeTimeout path: an AvailableNow run never ends
    drainAndStop(matches(Some(java.time.Duration.ofHours(1))), "lsh_2b_ttl",
      OutputMode.Append(), minRows = noTtl.size.toLong)
    val ttl = spark.table("lsh_2b_ttl").collect().map(_.toString).toSet
    assert(noTtl.nonEmpty && ttl == noTtl, s"TTL path diverged: $ttl vs $noTtl")
  }

  // JVM-side recompute of the simhash ingest contract, shared by both
  // simhash-ingest tests: fold batches in order through a claimant map
  // keyed on (band, bkey); intra-batch order = ascending doc id. Band
  // arithmetic is recomputed from Dedup.bandBounds with plain Long ops —
  // independent of the engine's Column expressions.
  private def simhashIngestExpected(batches: Seq[Map[Long, String]])
      : Set[(Int, Long, Long, Long, Int)] = {
    val bounds = graft.ext.Dedup.bandBounds(64, 5)
    def key(sig: Long, b: Int): Long = {
      val (start, len) = bounds(b)
      (sig >>> (64 - (start - 1) - len)) & ((1L << len) - 1)
    }
    val state = scala.collection.mutable.Map.empty[(Int, Long), (Long, Long)]
    val out = Set.newBuilder[(Int, Long, Long, Long, Int)]
    batches.foreach { batch =>
      // group this batch's (band, bkey) arrivals, ascending doc id
      val arrivals = for {
        (doc, s) <- batch.toSeq
        sig = java.lang.Long.parseUnsignedLong(s, 2)
        b <- bounds.indices
      } yield ((b, key(sig, b)), (doc, sig))
      arrivals.groupBy(_._1).foreach { case (bk, rows) =>
        val sorted = rows.map(_._2).sortBy(_._1)
        state.get(bk) match {
          case Some((claimDoc, claimSig)) =>
            // bucket already claimed in an earlier batch: EVERY arrival
            // (including this batch's min) matches the stored claimant
            sorted.foreach { case (d, sg) =>
              out += ((bk._1, bk._2, d, claimDoc,
                java.lang.Long.bitCount(sg ^ claimSig)))
            }
          case None =>
            val (claimDoc, claimSig) = sorted.head
            state(bk) = (claimDoc, claimSig)
            sorted.tail.foreach { case (d, sg) =>
              out += ((bk._1, bk._2, d, claimDoc,
                java.lang.Long.bitCount(sg ^ claimSig)))
            }
        }
      }
    }
    out.result()
  }

  private def sigsOf(rows: Seq[(Long, String)]): Map[Long, String] = {
    import spark.implicits._
    graft.ext.Dedup.simhashSignatures(
        rows.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("streaming simhash near-dup detection: single batch equals the claimant fold (verified hamming)") {
    import graft.streaming.DocumentsStream
    val matches = DocumentsStream.simhashNearDupAtIngest(spark,
      TableStream.read(spark, sf, "documents"))
    runAvailableNow(matches.toDF(), "simhash_ingest_1b", OutputMode.Append())
    val got = spark.table("simhash_ingest_1b")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    val docRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val expected = simhashIngestExpected(Seq(sigsOf(docRows).toMap))
    assert(got.nonEmpty && got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // the verified distances must make the downstream <= 4 filter real:
    // random 13-bit-band collisions of unrelated docs land far past the
    // threshold, so the event stream must carry genuinely large distances
    assert(got.forall(e => e._5 >= 0 && e._5 <= 64) && got.exists(_._5 > 4))
  }

  test("streaming simhash near-dup detection flags a cross-batch re-crawl with exact distance") {
    import graft.streaming.DocumentsStream
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content with no overlap whatsoever here now"
    val b1 = Seq(1L -> a, 2L -> b)
    // batch 2: doc 3 = re-crawl of doc 1 (identical text -> identical
    // signature -> collides in ALL 5 bands at hamming 0, partner = the
    // ORIGINAL doc 1 held in state across the batch boundary)
    val b2 = Seq(3L -> a)
    val dir = splitDir("docs_sim_2b", docRows(b1: _*), docRows(b2: _*))
    val matches = DocumentsStream.simhashNearDupAtIngest(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(matches.toDF(), "simhash_ingest_2b", OutputMode.Append())
    val got = spark.table("simhash_ingest_2b")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    val expected = simhashIngestExpected(Seq(sigsOf(b1), sigsOf(b2)))
    assert(got == expected, s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.map(e => (e._1, e._3, e._4, e._5)) ==
      (0 until 5).map(band => (band, 3L, 1L, 0)).toSet,
      s"expected doc 3 vs doc 1 at hamming 0 in all 5 bands, got $got")
  }

  test("streaming daily registers equal the batch daily grain (q171/q209 base)") {
    val updates = graft.queries.AnalyticsQueries.dailyAgg(
      TableStream.read(spark, sf, "events"))
    runAvailableNow(updates, "daily_regs", OutputMode.Update())
    // both registers are add-monotone: final value per key = max update
    val got = spark.table("daily_regs")
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("value_q")).as("vq"), max(col("n_events")).as("n"))
      .collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val batch = graft.queries.AnalyticsQueries.dailyAgg(Tables.events(spark, sf))
      .select(col("event_type"), col("day"), col("value_q"), col("n_events"))
      .collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.nonEmpty && got == batch)
  }

  test("watermark drops cross-batch late data from an Append windowed agg") {
    import graft.streaming.EventsStream
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = splitDir("events_late",
      // b1: one event in hour 0, one at hour 10 (the hour-10 event sets
      // the watermark to 9h once the batch commits)
      eventRows((1L, t(1800), 1L, "view", 1.0), (2L, t(36000), 1L, "view", 1.0)),
      // b2: a fresh on-time event — the batch that runs WITH the 9h
      // watermark, closing and emitting hour 0's window at count 1
      eventRows((3L, t(36600), 1L, "view", 1.0)),
      // b3: an event back in hour 0 — far below the watermark; the Append
      // contract is that the finalized window is never reopened and the
      // late row is dropped, not silently double-counted or re-emitted
      eventRows((4L, t(2400), 1L, "view", 1.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = EventsStream.windowedStats(stream)
      .writeStream.format("memory").queryName("late_win")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("late_win").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour"), r.getAs[Long]("n")))
    val hour0 = emitted.filter(_._1.getTime == 0L)
    assert(hour0.map(_._2).toSeq == Seq(1L),
      s"late event reopened, re-emitted or double-counted the closed " +
        s"window: ${emitted.toSeq}")
  }

  test("keyed state survives a query RESTART from checkpoint (daily registers)") {
    // Two separate query runs over one growing directory, sharing a
    // checkpoint: run 2 must CONTINUE run 1's aggregation state
    // (vq folds across the restart), not restart from zero — the
    // recovery contract every production register table depends on.
    val ckpt = java.nio.file.Files.createTempDirectory("events_ckpt_meta")
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val day = t(86400) // all events on one day
    val dir = splitDir("events_ckpt", eventRows((1L, day, 1L, "x", 1.0)))
    val out = java.nio.file.Files.createTempDirectory("events_ckpt_out")
    val schema = spark.read.parquet(dir.toString).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir.toString)
      val q = graft.queries.AnalyticsQueries.dailyAgg(stream)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out.toString): Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    val r1 = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("value_q"), r.getAs[Long]("n_events"))).toSet
    assert(r1 == Set((1000L, 1L)), s"run 1 fold wrong: $r1")
    // the query is stopped; a new file lands; a NEW query resumes
    writeBatch(dir, 2, eventRows((2L, day, 1L, "x", 2.0)))
    runOnce()
    val r2 = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("value_q"), r.getAs[Long]("n_events"))).toSet
    assert(r2 == Set((1000L, 1L), (3000L, 2L)),
      s"state did not survive the restart (expected cumulative 3000/2): $r2")
  }

  test("streaming CUSUM registers equal the ordered batch fold") {
    import graft.streaming.EventsStream
    val k = 500000L
    val updates = EventsStream.cusumRegisters(
      spark, TableStream.read(spark, sf, "events"), k)
    runAvailableNow(updates.toDF(), "cusum_regs", OutputMode.Update())
    val got = spark.table("cusum_regs").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("x"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    val expected = rows.groupBy(_._1).map { case (t, rs) =>
      var s = 0L; var smax = 0L
      rs.sortBy(r => ((r._2.getTime / 1000) * 1000000L + r._2.getNanos / 1000, r._3))
        .foreach { r =>
          s = math.max(0L, s + (r._4 - k)); if (s > smax) smax = s
        }
      t -> ((rs.length.toLong, s, smax))
    }
    assert(got.nonEmpty && got == expected)
  }

  test("streaming HWM registers equal the ordered batch fold (q259's arrival contract)") {
    import graft.streaming.EventsStream
    val updates = EventsStream.hwmRegisters(
      spark, TableStream.read(spark, sf, "events"))
    runAvailableNow(updates.toDF(), "hwm_regs", OutputMode.Update())
    val got = spark.table("hwm_regs").collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // Batch replay of the same series-local bounded-disorder arrival
    // order: (event_id div 64, md5(id), id).
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"),
        expr("event_id div 64").as("blk"),
        md5(col("event_id").cast("string").cast("binary")).as("h"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val expected = rows.groupBy(_._1).map { case (t, rs) =>
      var hwm = Long.MinValue; var l1 = 0L; var l10 = 0L; var l60 = 0L
      rs.sortBy(r => (r._4, r._5, r._2)).foreach { r =>
        if (hwm != Long.MinValue) {
          val late = hwm - r._3
          if (late > 1000000L) l1 += 1
          if (late > 10000000L) l10 += 1
          if (late > 60000000L) l60 += 1
        }
        if (r._3 > hwm) hwm = r._3
      }
      t -> ((rs.length.toLong, hwm, l1, l10, l60))
    }
    assert(got.nonEmpty && got == expected)
    // The simulated disorder must actually bite — a lateness register
    // pinned green on all-zero counters would prove nothing.
    assert(got.values.map(_._3).sum > 0, "no late events — degenerate fixture?")
  }

  test("streaming HWM registers carry state across micro-batches") {
    import graft.streaming.EventsStream
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = splitDir("hwm_2b",
      // Block 0, md5-order: md5("1") < md5("2") → id 1 (ts 200) arrives
      // BEFORE id 2 (ts 100): id 2 is 100 s late (all three counters).
      eventRows((1L, t(200), 1L, "drift", 1.0), (2L, t(100), 1L, "drift", 1.0)),
      // Batch 2 continues against the CARRIED hwm (200 s): id 3 (ts 150)
      // is 50 s late — 1 s and 10 s counters only.
      eventRows((3L, t(150), 1L, "drift", 1.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val updates = EventsStream.hwmRegisters(spark, stream)
    runAvailableNow(updates.toDF(), "hwm_2b", OutputMode.Update())
    val got = spark.table("hwm_2b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(got.contains((2L, 200000000L, 1L, 1L, 1L)), s"batch-1 fold wrong: $got")
    assert(got.contains((3L, 200000000L, 2L, 2L, 1L)), s"cross-batch fold wrong: $got")
  }

  test("streaming value-bucket registers equal the batch bucket counts (q269's first stage)") {
    import graft.streaming.EventsStream
    val w = 50000L
    val updates = EventsStream.valueBucketRegisters(
      TableStream.read(spark, sf, "events"), w)
    runAvailableNow(updates, "vb_regs", OutputMode.Update())
    // Registers are monotone counters: if the source split into several
    // micro-batches, the FINAL register per bucket is the max update.
    val got = spark.table("vb_regs").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    val expected = EventsStream.valueBucketRegisters(Tables.events(spark, sf), w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected && got.nonEmpty)
    // The register table must actually partition the range — a single
    // bucket would make the rank-location claim vacuous on this fixture.
    assert(got.size > 1, s"degenerate single-bucket fixture: $got")
    // Rank location off the registers IS the batch bucket-prefix leg:
    // the type-1 median's host bucket agrees with a direct batch scan.
    val n = got.values.sum
    val k = (n + 1) / 2
    val host = got.toSeq.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (b, c)) => (b, acc + c) }
      .find(_._2 >= k).get._1
    val batchHost = Tables.events(spark, sf)
      .select(expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
      .orderBy(col("v")).limit(k.toInt).agg(max(col("v"))).head.getLong(0) / w
    assert(host == batchHost, s"register rank location diverged: $host vs $batchHost")
  }

  test("streaming value-bucket registers carry counts across micro-batches") {
    import graft.streaming.EventsStream
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = splitDir("vb_2b",
      // Batch 1: buckets 0 (value 1.0) and 1 (value 60.0) open at 1 each.
      eventRows((1L, t(100), 1L, "drift", 1.0), (2L, t(200), 1L, "drift", 60.0)),
      // Batch 2: bucket 0 increments against CARRIED state -> 2.
      eventRows((3L, t(300), 1L, "drift", 1.5)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val updates = EventsStream.valueBucketRegisters(stream, 50000L)
    runAvailableNow(updates, "vb_2b", OutputMode.Update())
    val got = spark.table("vb_2b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 1L), (0L, 2L)), s"register folds wrong: $got")
  }

  test("streaming AQP registers equal the batch q237 legs (HT estimate included)") {
    val updates = graft.queries.AnalyticsQueries.aqpRegisters(
      TableStream.read(spark, sf, "events"))
    runAvailableNow(updates, "aqp_regs", OutputMode.Update())
    val got = spark.table("aqp_regs").collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // Batch legs: the register function q237 starts from, on the static table.
    val batch = graft.queries.AnalyticsQueries.aqpRegisters(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.nonEmpty && got == batch)
    // The register table serves the HT estimate without an event re-scan.
    got.foreach { case (_, (n, _, ns, _)) =>
      assert(ns <= n && ns * 16 >= 0) }
  }

  test("streaming skyline register equals the batch Pareto frontier") {
    import graft.streaming.EventsStream
    val updates = EventsStream.skylineRegister(
      spark, TableStream.read(spark, sf, "events"))
    runAvailableNow(updates.toDF(), "sky_reg", OutputMode.Update())
    val packed = spark.table("sky_reg").collect().last
      .getAs[scala.collection.Seq[Long]]("packed")
    val got = packed.grouped(2).map(p => (p(0), p(1))).toSet
    val batch = graft.ext.Skyline.skylineMax(
        Tables.events(spark, sf).select(
          expr("CAST(floor(value * 100) AS BIGINT)").as("v"),
          unix_micros(col("ts")).as("t")),
        Seq("v", "t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == batch)
  }

  test("streaming DGIM register equals the pure ordered fold and bounds the window count") {
    import graft.streaming.EventsStream
    val n = 1000L
    val updates = EventsStream.dgimRegister(
      spark, TableStream.read(spark, sf, "events"), n)
    runAvailableNow(updates.toDF(), "dgim_reg", OutputMode.Update())
    val last = spark.table("dgim_reg").collect().last
    val (nSeen, est) = (last.getAs[Long]("n_seen"), last.getAs[Long]("estimate"))
    // Pure fold over the same (ts, event_id)-ordered bits.
    val rows = Tables.events(spark, sf)
      .select(col("ts"), col("event_id"),
        (col("event_type") === lit("purchase")).as("bit"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(r => ((r._1.getTime / 1000) * 1000000L + r._1.getNanos / 1000, r._2))
    val st = graft.ext.Dgim.fold(rows.map(_._3).toSeq, n)
    assert(nSeen == rows.length.toLong && est == graft.ext.Dgim.estimate(st))
    // And the theorem holds against the exact window count.
    val exact = rows.takeRight(n.toInt).count(_._3).toLong
    assert(math.abs(est - exact) <= exact / 2 + 1, s"est=$est exact=$exact")
  }

  test("streaming CUSUM carries the fold across micro-batches") {
    import graft.streaming.EventsStream
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = splitDir("events_cusum_2b",
      eventRows((1L, t(100), 1L, "drift", 3.0), (2L, t(200), 1L, "drift", 0.0)),
      eventRows((3L, t(300), 1L, "drift", 2.5)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val updates = EventsStream.cusumRegisters(spark, stream, 1000L)
    runAvailableNow(updates.toDF(), "cusum_2b", OutputMode.Update())
    val got = spark.table("cusum_2b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch 1: s = max(0, 3000-1000) = 2000, then max(0, 2000+0-1000) = 1000
    // batch 2 continues: s = max(0, 1000+2500-1000) = 2500, smax = 2500
    assert(got.contains((2L, 1000L, 2000L)), s"batch-1 fold wrong: $got")
    assert(got.contains((3L, 2500L, 2500L)), s"cross-batch fold wrong: $got")
  }

  test("doc-local landmark extraction equals the batch window pipeline " +
    "(the q157 streaming-twin equivalence contract)") {
    import graft.ext.Multimodal
    import spark.implicits._
    val media = Multimodal.audioFromDocuments(Tables.documents(spark, sf))
    val batch = Multimodal.landmarkTable(media)
      .collect()
      .map(r => (r.getLong(0),
        s"${r.get(1)}|${r.get(2)}|${r.get(3)}|${r.get(4)}|${r.get(5)}"))
      .toSet
    val local = media.as[Multimodal.MediaRecord]
      .collect()
      .flatMap(r => Multimodal.landmarkKeys(r.payload).map(k => (r.media_id, k)))
      .toSet
    assert(batch.nonEmpty && local == batch,
      s"local=${local.size} batch=${batch.size}, " +
        s"onlyLocal=${(local -- batch).take(3)} onlyBatch=${(batch -- local).take(3)}")
  }

  test("streaming audio fingerprint flags a cross-batch re-recording " +
    "against the original the moment it lands") {
    import graft.streaming.DocumentsStream
    import spark.implicits._
    // a varied melody (repeats would collapse under the landmark
    // distinct()) shared at DIFFERENT offsets across the two batches
    val melody = "the same loud melody RISES and FALLS exactly here " +
      "Xylophones Quiver Zealously while Jazz Drums THUMP and ring " +
      "a Golden Trumpet BLARES over Violins Weeping in Minor keys"
    val dir = splitDir("docs_audio_2b",
      Seq((1L, "quiet intro then " + melody, "s"),
          (2L, "totally unrelated content with no shared phrases at all", "s"))
        .toDF("doc_id", "text", "source"),
      Seq((3L, melody + " and a very different long outro follows", "s"))
        .toDF("doc_id", "text", "source"))
    val matches = DocumentsStream.audioLandmarkMatchesAtIngest(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(matches.toDF(), "audio_ingest_2b", OutputMode.Append())
    val got = spark.table("audio_ingest_2b")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // every match pairs the re-recording (doc 3, batch 2) with the
    // original (doc 1, batch 1); the shared snippet is offset-shifted,
    // so this is the shift-invariance claim landing cross-batch
    assert(got.nonEmpty, "no landmark collisions emitted")
    assert(got.forall(_ == ((3L, 1L))), s"unexpected matches: ${got.distinct.toSeq}")
    assert(got.length >= 8, s"re-recording shares only ${got.length} landmarks")
  }

  test("first-seen users and landmark matching drop a null-id row, not the stream") {
    import graft.streaming.DocumentsStream
    import spark.implicits._
    val day = new java.sql.Timestamp(86400L * 1000)
    val events = splitDir("events_null_user",
      Seq((1L, day, Option(7L), "view", 1.0), (2L, day, Option.empty[Long], "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
    runAvailableNow(EventsStream.firstSeenUsers(spark,
      TableStream.read(spark, events, "events")).toDF(), "first_seen_null", OutputMode.Append())
    val users = spark.table("first_seen_null").collect().map(_.getLong(0)).toSeq
    assert(users == Seq(7L), s"expected only user 7, got $users")
    val melody = "the same loud melody RISES and FALLS exactly here " +
      "Xylophones Quiver Zealously while Jazz Drums THUMP and ring"
    val docs = splitDir("docs_null_id",
      Seq((Option(1L), melody, "s"), (Option.empty[Long], melody, "s"),
        (Option(3L), melody, "s")).toDF("doc_id", "text", "source"))
    runAvailableNow(DocumentsStream.audioLandmarkMatchesAtIngest(spark,
      TableStream.read(spark, docs, "documents")).toDF(), "audio_null_id", OutputMode.Append())
    val got = spark.table("audio_null_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.forall(_ == ((3L, 1L))), s"unexpected matches: ${got.toSeq}")
  }

  test("streaming gram claims: single batch equals batch q184 first-occurrence") {
    import graft.streaming.DocumentsStream
    val claims = DocumentsStream.gramClaimsAtIngest(spark,
      TableStream.read(spark, sf, "documents"))
    runAvailableNow(claims.toDF(), "gram_claims_1b", OutputMode.Append())
    val got = spark.table("gram_claims_1b")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // batch reference: min doc id per distinct trigram
    val expected = graft.ext.Dedup
      .shingleRows(Tables.documents(spark, sf), "text", "doc_id", 3)
      .groupBy(col("s")).agg(min(col("doc")).as("first_doc"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == expected)
    // per-doc claim counts are exactly q184's n_novel column
    val novelCounts = got.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val q184 = SparkEntry.queries("q184_gram_novelty")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(q184.nonEmpty &&
      q184 == q184.keySet.map(k => k -> novelCounts.getOrElse(k, 0L)).toMap)
  }

  test("streaming gram claims: a cross-batch re-appearance claims nothing") {
    import graft.streaming.DocumentsStream
    // batch 2: doc 3 repeats doc 1's text exactly (zero novel grams) and
    // doc 4 brings one genuinely new trigram alongside a repeated one
    val a = "alpha beta gamma delta epsilon"
    val dir = splitDir("docs_gram_2b", docRows(1L -> a),
      docRows(3L -> a, 4L -> "alpha beta gamma zeta eta theta"))
    val claims = DocumentsStream.gramClaimsAtIngest(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(claims.toDF(), "gram_claims_2b", OutputMode.Append())
    val got = spark.table("gram_claims_2b")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b1 = Set("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")
      .map(_ -> 1L)
    // doc 3 emits nothing; doc 4 claims only its unseen grams ("alpha
    // beta gamma" is already owned by doc 1 from the earlier batch)
    val b2 = Set("beta gamma zeta", "gamma zeta eta", "zeta eta theta")
      .map(_ -> 4L)
    assert(got == b1 ++ b2, s"unexpected claims: $got")
  }

  test("streaming claim maintenance: a tombstone retires exactly the holder's claims, and retired grams re-claim") {
    import graft.streaming.DocumentsStream
    import spark.implicits._
    // b1: docs 1 and 2 arrive (sharing "beta gamma delta"); b2: doc 1 is
    // tombstoned — exactly doc 1's claims retire (q201's affected set),
    // doc 2's claims survive; b3: doc 5 re-claims one retired gram.
    val dir = splitDir("docs_claim_del",
      Seq((1L, "alpha beta gamma delta", "add"),
        (2L, "beta gamma delta epsilon", "add")).toDF("doc_id", "text", "op"),
      Seq((1L, "alpha beta gamma delta", "del")).toDF("doc_id", "text", "op"),
      Seq((5L, "alpha beta gamma", "add"),
        (2L, "beta gamma delta epsilon", "del")).toDF("doc_id", "text", "op"))
    val events = DocumentsStream.claimMaintAtIngest(spark,
      TableStream.read(spark, dir.toString, "documents", Some(1)))
    runAvailableNow(events.toDF(), "claim_maint", OutputMode.Append())
    val got = spark.table("claim_maint")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val b1 = Set(
      ("alpha beta gamma", 1L, "claim"), ("beta gamma delta", 1L, "claim"),
      ("gamma delta epsilon", 2L, "claim"))
    // retired = grams whose batch-min holder is doc 1 — NOT "gamma delta
    // epsilon" (doc 2 holds it; the del of a non-holder is a no-op)
    val b2 = Set(
      ("alpha beta gamma", 1L, "retired"), ("beta gamma delta", 1L, "retired"))
    // b3: doc 5 re-claims the retired gram it carries; doc 2's tombstone
    // retires its surviving claim
    val b3 = Set(
      ("alpha beta gamma", 5L, "claim"),
      ("gamma delta epsilon", 2L, "retired"))
    assert(got == b1 ++ b2 ++ b3, s"unexpected events: $got")
    // the retired set NAMES q201's affected grams for this tombstone
    // batch: claims held by a tombstoned doc, nothing else
  }

  test("streaming centroid registers equal the batch per-(label,dim) sums across batches") {
    val vecs = Tables.embeddings(spark, sf)
    val dir = splitDir("emb_cent_2b", vecs.where(col("vec_id") % 2 === 0),
      vecs.where(col("vec_id") % 2 === 1))
    val updates = graft.queries.ExtQueries.centroidRegisters(
      TableStream.read(spark, dir, "embeddings", Some(1)))
    runAvailableNow(updates, "centroid_regs", OutputMode.Update())
    // n is monotone per key, so the row with max n is the final register
    val streamed = spark.table("centroid_regs")
      .groupBy(col("label"), col("pos"))
      .agg(max(struct(col("n"), col("sx"))).as("m"))
      .select(col("label"), col("pos"), col("m.sx"), col("m.n"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.queries.ExtQueries.centroidRegisters(vecs)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming q-digest registers: exact n, bounded size, answers in bound") {
    val updates = EventsStream.qdigestRegisters(
      spark, TableStream.read(spark, sf, "events"))
    runAvailableNow(updates.toDF(), "qd_regs", OutputMode.Update())
    // n_seen is monotone per type; the max-n row is the final register.
    val finals = spark.table("qd_regs").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).maxBy(_._1) }
    // Batch truth: per-type micro-quantized histograms.
    val vals = Tables.events(spark, sf)
      .select(col("event_type"),
        least(greatest(floor(col("value") * lit(1000000d)).cast("long"),
          lit(0L)), lit((1L << 30) - 1L)).as("vq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    assert(finals.keySet == vals.keySet && finals.nonEmpty)
    finals.foreach { case (t, (n, nNodes, p50, p95, bound)) =>
      val xs = vals(t)
      assert(n == xs.length.toLong, s"$t: n $n != ${xs.length}")
      assert(nNodes <= 3 * 2000, s"$t: digest grew past 3k: $nNodes")
      for ((phiPpm, vhat) <- Seq(500000L -> p50, 950000L -> p95)) {
        val tgt = math.max(1L, (phiPpm * n + 999999L) / 1000000L)
        val cntLt = xs.count(_ < vhat).toLong
        val cntLe = xs.count(_ <= vhat).toLong
        assert(cntLt + 1 <= tgt + bound && cntLe >= tgt - bound,
          s"$t phi=$phiPpm: answer $vhat rank [$cntLt+1,$cntLe] " +
            s"misses $tgt +- $bound")
      }
    }
  }

  test("streaming AMS F2 registers equal the batch algebra exactly") {
    // The register is a built-in streaming global aggregate (126
    // add-mergeable counters); after a full drain its emitted estimate
    // must EQUAL the batch computation over the same rows — the sums
    // are order-invariant integers, so this is equality, not a bound.
    val updates = EventsStream.amsRegisters(
      TableStream.read(spark, sf, "events"))
    runAvailableNow(updates, "ams_regs", OutputMode.Complete())
    val rows = spark.table("ams_regs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val (nStream, estStream) = rows.maxBy(_._1)
    val ev = Tables.events(spark, sf)
    val batchAgg = graft.ext.Sketches.amsChunks(ev, "user_id")
      .agg(count(lit(1)).as("n"), graft.ext.Sketches.amsBitSums: _*)
    val batch = graft.ext.Sketches.amsEstimateFromSums(batchAgg)
      .collect().head
    assert(nStream == batch.getLong(0),
      s"n: stream $nStream != batch ${batch.getLong(0)}")
    assert(estStream == batch.getLong(1),
      s"f2_est: stream $estStream != batch ${batch.getLong(1)}")
    // Sanity against the exact moment: the estimate is within 60% of
    // the true F2 (the 5x25 estimator's measured envelope; equality
    // above is the real pin — this guards against a degenerate sketch).
    val exact = ev.where(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c"))).collect().head.getLong(0)
    assert(math.abs(estStream - exact).toDouble / exact <= 0.6,
      s"estimate $estStream implausibly far from exact $exact")
  }

  test("streaming q-digest registers carry the digest across micro-batches") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val dir = splitDir("qd_2b",
      // Batch 1: three 1.0s — p50 register answers 1e6 at n=3.
      eventRows((1L, t(100), 1L, "drift", 1.0), (2L, t(200), 1L, "drift", 1.0),
        (3L, t(300), 1L, "drift", 1.0)),
      // Batch 2: two 2.0s fold against CARRIED state — n=5, median still
      // 1e6, p95 (target rank 5) now 2e6. thr = n/k = 0: digest exact.
      eventRows((4L, t(400), 1L, "drift", 2.0), (5L, t(500), 1L, "drift", 2.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val updates = EventsStream.qdigestRegisters(spark, stream)
    runAvailableNow(updates.toDF(), "qd_2b", OutputMode.Update())
    val got = spark.table("qd_2b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got.contains(("drift", 3L, 1000000L, 1000000L)),
      s"batch-1 register wrong: $got")
    assert(got.contains(("drift", 5L, 1000000L, 2000000L)),
      s"cross-batch fold wrong: $got")
  }
}
