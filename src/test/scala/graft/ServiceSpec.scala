package graft

import graft.model.MemberCatalog
import graft.ops.MemberOps
import graft.service.{JobService, QueryService}
import graft.sink.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ServiceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import QueryService._

  test("buildMdx renders the reference builder's shape") {
    val mdx = QueryService.buildMdx(QueryRequest(
      cube = "Sales",
      measures = Seq("sum_qty", "count_order"),
      rows = Seq(
        RowSpec("[Customer]", "[Customer].[Geo]", "Nation"),
        RowSpec("[Part]", "[Part].[ByBrand]", "Brand")),
      filters = Seq(FilterSpec(Seq("[Time].[OrderDate].[Year].&[1996]")))))
    assert(mdx ==
      "SELECT {[Measures].[sum_qty], [Measures].[count_order]} ON COLUMNS, " +
        "NON EMPTY CROSSJOIN([Customer].[Geo].[Nation].MEMBERS, [Part].[ByBrand].[Brand].MEMBERS) ON ROWS " +
        "FROM [Sales] WHERE ([Time].[OrderDate].[Year].&[1996])")
  }

  test("executeForGrid returns AG-Grid-shaped results") {
    val res = QueryService.executeForGrid(spark, sf, QueryRequest(
      "Sales", Seq("count_order"),
      Seq(RowSpec("[Customer]", "[Customer].[Geo]", "Region"))))
    assert(res.columns.map(_.field) == Seq("region", "count_order"))
    assert(res.rowCount == 5 && res.rows.size == 5)
    assert(res.rows.head.contains("region"))
  }

  test("job lifecycle: PENDING -> COMPLETED with result; bad MDX -> FAILED") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val good = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[count_order]} ON COLUMNS, NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS FROM [Sales]")
    val bad = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[nope]} ON COLUMNS FROM [Sales]")
    assert(JobService.status(spark, root, good).get.status == JobService.Pending)
    val n = JobService.runPending(spark, root, sf)
    assert(n == 2)
    val g = JobService.status(spark, root, good).get
    assert(g.status == JobService.Completed && g.duration_seconds > 0)
    assert(JobService.result(spark, root, good).count() == 5)
    val b = JobService.status(spark, root, bad).get
    assert(b.status == JobService.Failed && b.error_message.contains("unknown measure"))
  }

  test("an unreadable job log is an error, not a log without jobs") {
    // A status of None reads as "not submitted yet" to a poller, and an
    // empty log gives runPending nothing to drain: only an absent log may
    // read as empty.
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_garbage").toString
    val id = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[count_order]} ON COLUMNS FROM [Sales]")
    val files = new java.io.File(s"$root/job_events").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    java.nio.file.Files.write(files.head.toPath, "not a parquet file".getBytes)
    intercept[Exception](JobService.status(spark, root, id))
  }

  test("submit, polls, an empty drain and a result read run no Spark job of their own") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_nospark").toString
    var id = ""
    val submitJobs = SparkJobCount(spark) {
      assert(JobService.runPending(spark, root, sf) == 0) // an absent log
      id = JobService.submit(spark, root, "SALES",
        "SELECT {[Measures].[count_order]} ON COLUMNS, NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS FROM [Sales]")
      (1 to 5).foreach(_ =>
        assert(JobService.status(spark, root, id).get.status == JobService.Pending))
    }
    assert(submitJobs == 0, s"$submitJobs Spark jobs in submit and polls")
    assert(JobService.runPending(spark, root, sf) == 1) // the job's query and result write
    var result: org.apache.spark.sql.DataFrame = null
    val readJobs = SparkJobCount(spark) {
      assert(JobService.runPending(spark, root, sf) == 0)
      assert(JobService.status(spark, root, id).get.status == JobService.Completed)
      result = JobService.result(spark, root, id)
    }
    assert(readJobs == 0, s"$readJobs Spark jobs in an empty drain, a poll and a result read")
    assert(result.schema == spark.read.parquet(s"$root/results/$id").schema)
    assert(result.count() == 5)
  }

  test("a poll opens only its own job's files, whatever else the log holds") {
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_garbage_others").toString
    val id = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[count_order]} ON COLUMNS FROM [Sales]")
    val dir = new java.io.File(s"$root/job_events")
    val phases = Seq("pending-1", "running-1", "done-1")
    val others = (1 to 1000).map { i =>
      val other = java.util.UUID.randomUUID().toString
      java.nio.file.Files.write(new java.io.File(dir, s"$other.${phases(i % 3)}.parquet").toPath,
        "not a parquet file".getBytes)
      other
    }
    val j = JobService.status(spark, root, id).get
    assert(j.id == id && j.status == JobService.Pending && j.attempts == 1)
    // the other jobs' files really are unreadable
    intercept[Exception](JobService.status(spark, root, others.head))
  }

  test("event file format: Spark's columns, types and footer schema; event_at to the millisecond") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_format").toString
    val mdx = "SELECT {[Measures].[count_order]} ON COLUMNS FROM [Sales]"
    val t0 = System.currentTimeMillis()
    val id = JobService.submit(spark, root, "SALES", mdx)
    val t1 = System.currentTimeMillis()
    val file = s"$root/job_events/$id.pending-1.parquet"
    def fields(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(spark.read.parquet(file).schema) == fields(JobService.eventSchema))
    val row = spark.read.schema(JobService.eventSchema).parquet(file).collect().toSeq
    assert(row.size == 1)
    val r = row.head
    assert(r.getAs[String]("id") == id && r.getAs[String]("status") == JobService.Pending &&
      r.getAs[String]("mdx_query") == mdx && r.getAs[String]("catalog_code") == "SALES" &&
      r.getAs[String]("error_message") == "" && r.getAs[Double]("duration_seconds") == 0.0)
    val at = r.getAs[java.sql.Timestamp]("event_at")
    assert(at.getTime >= t0 && at.getTime <= t1 && at.getNanos % 1000000 == 0)
    assert(JobService.status(spark, root, id).get.created_at == at)
    // the parquet schema is the one Spark writes for the same row
    JobLogFixture.linkEvent(spark, root, "spark.pending-1.parquet", "spark", mdx,
      JobService.Pending)
    def footer(f: String) = {
      val rd = ParquetFileReader.open(new LocalInputFile(java.nio.file.Paths.get(f)))
      try rd.getFooter.getFileMetaData.getSchema finally rd.close()
    }
    assert(footer(file) == footer(s"$root/job_events/spark.pending-1.parquet"))
  }

  test("job events encode through generated code: no interpreter fallback on submit or run") {
    // Events are written without Spark, so the job's own query is the
    // only generated code here; a class Janino cannot compile is retried
    // — and logged as a fallback — on every use, since a failed compile
    // is not cached.
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("servicespec-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          lines.add(String.valueOf(e.getMessage.getFormattedMessage))
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    // Non-additive loggers do not pass their events on to the root.
    val loggers = ctx.getConfiguration.getRootLogger +:
      ctx.getConfiguration.getLoggers.asScala.values.filterNot(_.isAdditive).toSeq
    loggers.foreach(_.addAppender(app, null, null))
    ctx.updateLoggers()
    try {
      val root = java.nio.file.Files.createTempDirectory("graft_jobs_codegen").toString
      val id = JobService.submit(spark, root, "SALES",
        "SELECT {[Measures].[count_order]} ON COLUMNS, NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS FROM [Sales]")
      assert(JobService.runPending(spark, root, sf) == 1)
      assert(JobService.status(spark, root, id).get.status == JobService.Completed)
    } finally {
      loggers.foreach(_.removeAppender(app.getName))
      ctx.updateLoggers()
      app.stop()
    }
    val fallbacks = lines.asScala.filter(_.contains("falling back to interpreter mode"))
    assert(fallbacks.isEmpty, fallbacks.mkString("\n"))
  }

  test("member search is case/accent-insensitive") {
    import spark.implicits._
    val m = Seq(("Águila Real", "[D].[H].&[1]"), ("zorro", "[D].[H].&[2]"))
      .toDF("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")
    assert(MemberOps.search(m, "aguila").count() == 1)
    assert(MemberOps.search(m, "ZORRO").count() == 1)
    assert(MemberOps.search(m, "nada").count() == 0)
  }

  test("keyset pagination pages without overlap") {
    val members = MemberCatalog.members(spark, sf)
      .where(col("JERARQUIA") === "[Customer].[Geo]")
    val p1 = MemberOps.keysetPage(members, None, None, 10).collect()
    val last = p1.last
    val p2 = MemberOps.keysetPage(members,
      Some(last.getAs[String]("MIEMBRO_CAPTION")),
      Some(last.getAs[String]("MIEMBRO_UNIQUE_NAME")), 10).collect()
    val ids1 = p1.map(_.getAs[String]("MIEMBRO_UNIQUE_NAME")).toSet
    val ids2 = p2.map(_.getAs[String]("MIEMBRO_UNIQUE_NAME")).toSet
    assert(p1.length == 10 && p2.nonEmpty && ids1.intersect(ids2).isEmpty)
  }

  test("childrenOf works on both new (parent col) and old (prefix) cubes") {
    val members = MemberCatalog.members(spark, sf)
    val newKids = MemberOps.childrenOf(members, "[Customer].[Geo].[Region].&[2]")
    assert(newKids.count() == 5) // 5 nations per region
    val oldKids = MemberOps.childrenOf(members, "[Customer].[GeoOld].&[2]")
    assert(oldKids.count() == 5)
  }

  test("estimateResultSize multiplies level counts and warns over 100k") {
    val members = MemberCatalog.members(spark, sf)
    val small = MemberOps.estimateResultSize(members,
      Seq(("[Customer].[Geo]", 1), ("[Customer].[Geo]", 2)))
    assert(small.estimatedRows == 5L * 25L && !small.warn)
    val big = MemberOps.estimateResultSize(members,
      Seq(("[DIM VARIABLES].[Apartado y Variable]", 2),
        ("[DIM VARIABLES].[Apartado y Variable]", 2),
        ("[DIM VARIABLES].[Apartado y Variable]", 2)))
    assert(big.warn == (big.estimatedRows > 100000))
  }

  test("sinks: scrub, csv export, upsert parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val dirty = Seq(("ab", 1L), ("ok", 2L)).toDF("s", "k")
    val clean = Sinks.scrubbed(dirty).collect().map(_.getString(0)).sorted
    assert(clean.toSeq == Seq("ab", "ok"))
    Sinks.csvExport(dirty, s"$dir/csv")
    assert(spark.read.option("header", "true").csv(s"$dir/csv").count() == 2)
    Sinks.upsertParquet(Seq((1L, "v1")).toDF("k", "v"), s"$dir/up", Seq("k"))
    Sinks.upsertParquet(Seq((1L, "v2"), (2L, "w")).toDF("k", "v"), s"$dir/up", Seq("k"))
    val up = spark.read.parquet(s"$dir/up").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(up == Map(1L -> "v2", 2L -> "w"))
    // Published by rename: neither the staged copy nor the retired
    // generation is left behind.
    val left = new java.io.File(dir).list().filter(n => n.endsWith("_tmp") || n.endsWith("_old"))
    assert(left.isEmpty, s"upsert left ${left.toSeq}")
  }

  test("compactParquet: bin-packs small files, preserves rows/schema, and survives re-reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$dir/tbl"
    val rows = (1L to 1000L).map(i => (i, s"v$i"))
    // simulate streaming accretion: 50 small files
    rows.toDF("k", "v").repartition(50).write.parquet(path)
    def files() = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() == 50)
    val n = Sinks.compactParquet(spark, path, targetRows = 250)
    assert(n == 4 && files() == 4, s"expected 4 files, got ${files()}")
    val back = spark.read.parquet(path)
    assert(back.schema.fieldNames.toSet == Set("k", "v"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(rows.sorted))
  }

  test("schema evolution: mergeSchema unifies accreted generations; old rows null new columns") {
    // The data-lake reality at 100 TB: a column lands mid-stream and the
    // table's older files simply don't have it. mergeSchema reads must
    // present the union schema with nulls for pre-evolution rows.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t/gen=1")
    Seq((2L, "b", 9L)).toDF("k", "v", "extra").write.parquet(s"$dir/t/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.schema.fieldNames.contains("extra"))
    val byK = merged.collect().map(r =>
      r.getLong(r.fieldIndex("k")) ->
        (if (r.isNullAt(r.fieldIndex("extra"))) None
         else Some(r.getLong(r.fieldIndex("extra"))))).toMap
    assert(byK == Map(1L -> None, 2L -> Some(9L)))
  }

  test("ORC round-trip preserves the member-catalog schema and rows") {
    // Another Spark-native columnar format for the catalog export path:
    // schema (incl. nested/long types) and rows must survive unchanged.
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val members = MemberCatalog
      .members(spark, sf).limit(200)
    members.write.mode("overwrite").orc(s"$dir/members")
    val back = spark.read.orc(s"$dir/members")
    // file sources read everything back nullable; names+types must match
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      members.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() == members.count())
    assert(back.collect().map(_.toString).sorted.toSeq ==
      members.collect().map(_.toString).sorted.toSeq)
  }

  test("Excel sink: SpreadsheetML workbook round-trips sheets, types, scrub") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xls").toString
    val path = s"$dir/catalog.xml"
    val members = Seq((1L, "Aguascalientes", 12.5), (2L, "BC", 3.0))
      .toDF("member_key", "caption", "score")
    val measures = Seq(("Total", true)).toDF("name", "visible")
    graft.sink.ExcelSink.writeWorkbook(
      Seq("Members" -> members, "Measures" -> measures), path)
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(path))
    val sheets = doc.getElementsByTagName("Worksheet")
    assert(sheets.getLength == 2)
    assert(sheets.item(0).getAttributes.getNamedItem("ss:Name")
      .getNodeValue == "Members")
    val cells = doc.getElementsByTagName("Data")
    val texts = (0 until cells.getLength).map(cells.item(_).getTextContent)
    assert(texts.contains("Aguascalientes") && texts.contains("12.5"))
    assert(texts.contains("BC"), "control char not scrubbed") //  removed
    val types = (0 until cells.getLength).map(cells.item(_).getAttributes
      .getNamedItem("ss:Type").getNodeValue)
    assert(types.contains("Number") && types.contains("Boolean"))
    // non-finite doubles must not appear as ss:Type="Number" (invalid
    // SpreadsheetML: Excel/LibreOffice reject the workbook) — they fall
    // back to String cells
    val weird = Seq(("nan", Double.NaN), ("inf", Double.PositiveInfinity),
      ("ok", 1.5)).toDF("tag", "v")
    val wPath = s"$dir/weird.xml"
    graft.sink.ExcelSink.writeWorkbook(Seq("W" -> weird), wPath)
    val wDoc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(wPath))
    val wCells = wDoc.getElementsByTagName("Data")
    val byText = (0 until wCells.getLength).map { i =>
      val c = wCells.item(i)
      c.getTextContent -> c.getAttributes.getNamedItem("ss:Type").getNodeValue
    }.toMap
    assert(byText("NaN") == "String" && byText("Infinity") == "String")
    assert(byText("1.5") == "Number")
    // row ceiling fails fast instead of silently truncating
    val big = spark.range(graft.sink.ExcelSink.maxRowsPerSheet + 1).toDF("id")
    val err = intercept[IllegalArgumentException] {
      graft.sink.ExcelSink.writeWorkbook(Seq("big" -> big), s"$dir/big.xml")
    }
    assert(err.getMessage.contains("exceeds"))
  }

  test("JDBC sink: staging MERGE updates matched keys and inserts new ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbc").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    graft.sink.JdbcSink.createMemberTables(url)
    val b1 = Seq((1L, "one", 10L, 1), (2L, "two", 20L, 1))
      .toDF("member_key", "caption", "region_key", "batch")
    val b2 = Seq((2L, "two v2", 21L, 2), (3L, "three", 30L, 2))
      .toDF("member_key", "caption", "region_key", "batch")
    graft.sink.JdbcSink.upsertBatch(spark, url, b1)
    graft.sink.JdbcSink.upsertBatch(spark, url, b2)
    val got = graft.sink.JdbcSink.readTarget(spark, url).collect()
      .map(r => r.getAs[Long]("member_key") ->
        ((r.getAs[String]("caption"), r.getAs[Long]("region_key"), r.getAs[Int]("batch"))))
      .toMap
    assert(got == Map(
      1L -> (("one", 10L, 1)),      // untouched by batch 2
      2L -> (("two v2", 21L, 2)),   // MATCHED -> updated
      3L -> (("three", 30L, 2))))   // NOT MATCHED -> inserted
  }
}

class CatalogCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("disk-tier cache round-trips with checksum validation; corruption detected") {
    val dir = java.nio.file.Files.createTempDirectory("cat_cache").toString
    val members = graft.model.MemberCatalog.members(spark, sf)
    val sum = graft.model.CatalogCache.write(members, s"$dir/members")
    val back = graft.model.CatalogCache.readValidated(spark, s"$dir/members", sum)
    assert(back.count() == members.count())
    // stale-checksum path (the reference's refresh trigger)
    assertThrows[IllegalStateException](
      graft.model.CatalogCache.readValidated(spark, s"$dir/members", sum + 1))
  }
}

class ApartadosServiceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("variablesFor resolves range selections to parent-child variables") {
    val members = MemberCatalog.members(spark, sf)
    val aps = graft.service.ApartadosService.apartadoRows(members).collect()
    val v13 = graft.service.ApartadosService.variablesFor(members, "1,3").collect()
    val expected = aps.filter(r => Set(1, 3)(r.getAs[Int]("id")))
      .map(_.getAs[Int]("variables_count").toLong).sum
    assert(v13.length.toLong == expected)
    val all = graft.service.ApartadosService.variablesFor(members, s"1-${aps.length}")
    assert(all.count() == aps.map(_.getAs[Int]("variables_count").toLong).sum)
  }
}

class StreamingJobRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("streaming runner drains the submission backlog via foreachBatch") {
    val root = java.nio.file.Files.createTempDirectory("graft_sjobs").toString
    val good = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[sum_qty]} ON COLUMNS, NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS FROM [Sales]")
    val bad = JobService.submit(spark, root, "SALES",
      "SELECT {[Measures].[nope]} ON COLUMNS FROM [Sales]")
    val q = JobService.streamingRunner(spark, root, sf)
    q.awaitTermination(180000)
    assert(JobService.status(spark, root, good).get.status == JobService.Completed)
    assert(JobService.result(spark, root, good).count() == 5)
    assert(JobService.status(spark, root, bad).get.status == JobService.Failed)
    // idempotence: a second drain finds nothing PENDING
    val q2 = JobService.streamingRunner(spark, root, sf)
    q2.awaitTermination(60000)
    assert(JobService.readJobs(spark, root)
      .where(org.apache.spark.sql.functions.col("status") === JobService.Pending)
      .count() == 0)
  }

  test("pre-agg maintenance composes with the streaming job runner: submit -> claim -> merge -> COMPLETED") {
    // Round-5 verdict item 7: PreAggStream (the fold) and the job service
    // (crash-safe claims) were built separately; this drives a maintenance
    // MERGE *through* the foreachBatch runner and pins merge ≡ recompute.
    val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val cube = graft.mdx.SalesCube.cube
    val pa = cube.preAggs.head
    // Two maintenance jobs over disjoint fact slices (history, then delta).
    val j1 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 != 0")
    JobService.streamingRunner(spark, root, sf).awaitTermination(180000)
    assert(JobService.status(spark, root, j1).get.status == JobService.Completed)
    val j2 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 = 0")
    JobService.streamingRunner(spark, root, sf).awaitTermination(180000)
    assert(JobService.status(spark, root, j2).get.status == JobService.Completed)
    // The maintained aggregate (job 2's result) must be BIT-identical to a
    // from-scratch build over the full fact — SUM/COUNT partials merge
    // exactly, same contract as q126 and the streaming maintainer.
    val full = graft.mdx.MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
      cube.fact(spark, sf))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(rows(JobService.result(spark, root, j2)) == rows(full))
    // A malformed maintenance payload fails the job, never the runner.
    val j3 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.nope WHERE 1 = 1")
    JobService.streamingRunner(spark, root, sf).awaitTermination(120000)
    assert(JobService.status(spark, root, j3).get.status == JobService.Failed)
  }

  test("crash recovery: checkpoint loss replays without double-execution; orphaned claims requeue to exactly one COMPLETED") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_sjobs_crash").toString
    val mdx = "SELECT {[Measures].[sum_qty]} ON COLUMNS, NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS FROM [Sales]"
    val id = JobService.submit(spark, root, "SALES", mdx)
    JobService.streamingRunner(spark, root, sf).awaitTermination(180000)
    assert(JobService.status(spark, root, id).get.status == JobService.Completed)
    def statusCounts(): Map[String, Long] =
      spark.read.parquet(s"$root/job_events").groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statusCounts().get(JobService.Running).contains(1L))
    assert(statusCounts().get(JobService.Completed).contains(1L))
    val resultRows = JobService.result(spark, root, id).count()

    // Runner died AFTER executing but BEFORE its checkpoint commit: wipe
    // the checkpoint, so the restarted runner replays every event from
    // offset zero — the worst-case at-least-once redelivery. The
    // foreachBatch state check finds the job COMPLETED, and its
    // generation's claim is already taken: the replay is a no-op.
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    rmrf(java.nio.file.Paths.get(s"$root/runner_checkpoint"))
    JobService.streamingRunner(spark, root, sf).awaitTermination(120000)
    assert(statusCounts().get(JobService.Running).contains(1L),
      "full replay must not re-claim a completed job")
    assert(statusCounts().get(JobService.Completed).contains(1L),
      "the job lands COMPLETED exactly once")
    assert(JobService.result(spark, root, id).count() == resultRows)

    // Runner died MID-execution: its durable claim is an orphaned RUNNING
    // event. Simulate the orphan by appending the claim the dead runner
    // left (the log is the public storage contract), then requeue stale
    // claims and drain — COMPLETED exactly once for this job too.
    val orphan = JobService.submit(spark, root, "SALES", mdx)
    JobLogFixture.linkEvent(spark, root, s"$orphan.running-1.parquet", orphan, mdx,
      JobService.Running)
    assert(JobService.status(spark, root, orphan).get.status == JobService.Running)
    // A drain while the claim looks live must NOT steal the job...
    assert(JobService.runPending(spark, root, sf) == 0)
    // ...but once stale it requeues and completes exactly once.
    assert(JobService.requeueStale(spark, root, 0) == Seq(orphan))
    JobService.streamingRunner(spark, root, sf).awaitTermination(120000)
    assert(JobService.status(spark, root, orphan).get.status == JobService.Completed)
    assert(spark.read.parquet(s"$root/job_events")
      .where(col("id") === orphan && col("status") === JobService.Completed)
      .count() == 1, "orphaned job lands COMPLETED exactly once")
  }

  // The dead runner's durable claim of generation `gen`, written straight
  // to the public log contract under its claim name (same shape as the
  // crash-recovery test above). Stamped NOW; by the time the sweep reads
  // the clock, the parquet write has advanced it past the claim, so
  // staleAfter=0 sees the claim as stale.
  private def appendOrphanClaim(root: String, id: String, mdx: String, gen: Int): Unit =
    JobLogFixture.linkEvent(spark, root, s"$id.running-$gen.parquet", id, mdx,
      JobService.Running)

  test("bounded retry: a job that keeps killing its runner lands FAILED after maxAttempts, never loops") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_poison").toString
    val mdx = "SELECT {[Measures].[sum_qty]} ON COLUMNS FROM [Sales]"
    val id = JobService.submit(spark, root, "SALES", mdx)
    // Poisoned-job loop: each cycle the runner claims (RUNNING) and dies
    // before writing any terminal state; the sweep finds the orphan.
    appendOrphanClaim(root, id, mdx, 1) // attempt 1
    assert(JobService.requeueStale(spark, root, 0) == Seq(id))
    appendOrphanClaim(root, id, mdx, 2) // attempt 2
    assert(JobService.requeueStale(spark, root, 0) == Seq(id))
    appendOrphanClaim(root, id, mdx, 3) // attempt 3 = maxAttempts
    assert(JobService.requeueStale(spark, root, 0).isEmpty,
      "at the cap the sweep must not requeue")
    val j = JobService.status(spark, root, id).get
    assert(j.status == JobService.Failed && j.error_message.contains("gave up"))
    // Terminal: further sweeps and drains are no-ops; the job stays FAILED.
    assert(JobService.requeueStale(spark, root, 0).isEmpty)
    assert(JobService.runPending(spark, root, sf) == 0)
    assert(JobService.status(spark, root, id).get.status == JobService.Failed)
    assert(spark.read.parquet(s"$root/job_events")
      .where(col("status") === JobService.Failed).count() == 1)
  }

  test("maintenance crash-safety: torn swaps recover history; post-publish replay never double-folds") {
    val root = java.nio.file.Files.createTempDirectory("graft_maint_crash").toString
    val cube = graft.mdx.SalesCube.cube
    val pa = cube.preAggs.head
    val statePath = s"$root/preagg_state/Sales.${pa.name}"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(pa.grainCols.map(col): _*).collect().map(_.toSeq).toSeq
    val full = graft.mdx.MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
      cube.fact(spark, sf))

    // History fold.
    val j1 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 != 0")
    JobService.runPending(spark, root, sf)
    assert(JobService.status(spark, root, j1).get.status == JobService.Completed)

    // Crash window 1: a dead job retired the live dir and died before
    // publishing (its .next never completed). The surviving .old-<id> IS
    // the pre-merge state; the next maintenance run must restore it — not
    // rebuild from its delta alone and silently drop all folded history.
    assert(new java.io.File(statePath).renameTo(
      new java.io.File(s"$statePath.old-deadjob")))
    val j2 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 = 0")
    JobService.runPending(spark, root, sf)
    assert(JobService.status(spark, root, j2).get.status == JobService.Completed)
    assert(rows(JobService.result(spark, root, j2)) == rows(full),
      "history must survive a retire-then-die swap")

    // Crash window 2: the claimant published the merged state (marker
    // inside) but died before its COMPLETED transition. The at-least-once
    // requeue re-runs the SAME job id; the marker must turn the re-run
    // into an idempotent republish, not a second fold of the same delta.
    JobLogFixture.linkEvent(spark, root, s"$j2.pending-2.parquet", j2,
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey % 7 = 0", JobService.Pending, seq = 1L)
    JobService.runPending(spark, root, sf)
    assert(JobService.status(spark, root, j2).get.status == JobService.Completed)
    assert(rows(spark.read.parquet(statePath)) == rows(full),
      "replaying a published merge must not double-count SUM/COUNT partials")
    assert(rows(JobService.result(spark, root, j2)) == rows(full))

    // Crash window 3: a dead job finished its merge (.next complete, with
    // _SUCCESS) and died between retiring live and publishing. Recovery
    // must prefer the COMPLETE next dir over treating state as missing.
    assert(new java.io.File(statePath).renameTo(
      new java.io.File(s"$statePath.next-deadjob2")))
    val j3 = JobService.submit(spark, root, "SALES",
      "MAINTAIN PREAGG Sales.base WHERE l_orderkey < 0") // empty delta
    JobService.runPending(spark, root, sf)
    assert(JobService.status(spark, root, j3).get.status == JobService.Completed)
    assert(rows(spark.read.parquet(statePath)) == rows(full),
      "a complete .next dir is the finished merge and must be restored")
    // Swap leftovers are swept once the live dir is healthy again.
    val leftovers = Option(new java.io.File(s"$root/preagg_state").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(n => n.contains(".old-") || n.contains(".next-"))
    assert(leftovers.isEmpty, s"swap leftovers not swept: ${leftovers.toSeq}")
  }

  test("dynamic partition overwrite replaces only the incoming partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dyn_overwrite").toString
    val prevMode = spark.conf
      .getOption("spark.sql.sources.partitionOverwriteMode")
    val v1 = Seq((1L, "en", "one"), (2L, "en", "two"), (3L, "es", "tres"))
      .toDF("id", "lang", "t")
    graft.sink.Sinks.writePartitioned(v1, dir, Seq("lang"))
    // Re-process ONLY lang=es: the en partition's rows must survive.
    val v2 = Seq((3L, "es", "tres-v2"), (4L, "es", "cuatro"))
      .toDF("id", "lang", "t")
    graft.sink.Sinks.overwritePartitionsDynamic(v2, dir, Seq("lang"))
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("lang"),
        r.getAs[String]("t"))).toSet
    assert(got == Set((1L, "en", "one"), (2L, "en", "two"),
      (3L, "es", "tres-v2"), (4L, "es", "cuatro")),
      s"dynamic overwrite corrupted sibling partitions: $got")
    // And the session config was restored (scoped side effect only).
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      == prevMode, "partitionOverwriteMode leaked out of the sink call")
  }
}
