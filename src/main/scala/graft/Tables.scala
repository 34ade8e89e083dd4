package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided TPC-H-ish star schema (TESTDATA.md).
  *
  * Every query entry receives an `sfDir` (e.g. `/root/testdata/sf0.01`);
  * tables are single parquet files `sfDir/<name>.parquet`. At cluster
  * scale these would be partitioned parquet/Delta directories — the
  * loaders are the single place that would change.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Each table file's schema, per session and (path, length, mtime):
    * inferring it runs a Spark job over the file's footer, reading with a
    * given schema runs none. Weak in the session, so a dropped session's
    * entries go with it. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]]())

  /** Read table `name`, inferring its schema only on the first load of the
    * file's current version in this session. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The parquet schema at `path` (a file or a dir of files), inferred
    * once per session and version of the path. */
  private[graft] def schema(spark: SparkSession, path: String): StructType = {
    val f = new java.io.File(path)
    val key = (path, f.length, f.lastModified)
    val known = schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    Option(known.get(key)).getOrElse {
      val s = spark.read.parquet(path).schema
      known.put(key, s)
      s
    }
  }

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")
  /** `events` with [[plainTs]]. */
  def events(spark: SparkSession, d: String): DataFrame = plainTs(load(spark, d, "events"))

  /** Normalizes a `ts` column to session-local TimestampType regardless of
    * how the parquet writer encoded it. Observed encodings across testdata
    * generations:
    *  - TIMESTAMP(NANOS): no native Spark type; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in every session
    *    builder) it reads as nanos-since-epoch LongType → truncate to µs.
    *  - timestamp[us] without timezone: reads as TIMESTAMP_NTZ → cast to
    *    TimestampType. Wall-clock identity because every GraftSession pins
    *    `spark.sql.session.timeZone=UTC`.
    * Everything downstream (watermarks, `unix_micros`, window frames)
    * assumes plain TimestampType; the batch [[events]] loader and the
    * stream reader [[graft.streaming.TableStream.read]] both go through
    * here. A frame without `ts`
    * is returned as it is. */
  private[graft] def plainTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Register every table as a temp view (DMV-style SQL surface, SURVEY §2.1 S2).
    * `events` goes through [[events]] so the SQL surface sees the same
    * normalized TimestampType `ts` as the DataFrame surface. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}

/** Local SparkSession factory used by tests AND the Verify/Bench mains —
  * one builder so AQE (skew-join + partition coalesce, the protections a
  * 100× scale-up relies on) and parity configs can't drift between the
  * test, verify, and bench environments (round-1 verdict item 3). */
object GraftSession {
  def local(threads: Int = 4, app: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(app)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-class cache defaults to 100 entries; a 270-query
      // registry (and 40 parallel test suites) churns far past that, so
      // identical plans recompile constantly and — under concurrent
      // first-compiles — can trip Janino's nested-class accessor race.
      // Size it to hold the working set. 2000 held until maxFields=200
      // (below) let MORE stages codegen: the 278-query registry then
      // overflowed the cache and every bench pass recompiled every
      // plan — a uniform +0.3-0.5 s/query tax that showed only in
      // full-suite context (isolated queries stayed fast).
      .config("spark.sql.codegen.cache.maxEntries", "6000")
      // maxFields defaults to 100: a wider plan silently loses ALL
      // whole-stage codegen for its stage (q276's 126-buffer sketch
      // aggregate ran fully interpreted — measured 2.3× slower). Spark
      // splits generated consume/aggregate functions per operator, so
      // wider stages stay JIT-compilable; 200 covers the registry's
      // widest plan with headroom. r12 measured the OTHER edge of this
      // knob: raising it to 1024 (to pull q276's 252-field aggregate
      // stage into codegen) made the FULL suite 15% slower — wide spans
      // emit oversized generated methods that the JIT refuses to
      // compile, and interpreted bytecode is slower than Spark's own
      // interpreted-expression path (the reason the upstream default is
      // 100). Wide sketch aggregates are instead decomposed into
      // <=100-field legs at the query level (see q276).
      .config("spark.sql.codegen.maxFields", "200")
      // Partitioning floors measured and deliberately LEFT AT DEFAULTS
      // (r12 optimization round): (a) openCostInBytes=4MB caps the
      // 10 MB lineitem scan at 3 splits, but every test parquet file is
      // ONE row group, so finer splits produce empty tasks — measured
      // no wall change at 256 KB; (b) AQE
      // coalescePartitions.minPartitionSize=64 KB widened q258's 3 MB
      // post-shuffle window stages from 2 to 32 tasks but each task
      // still paid a ~850 ms near-fixed cost — 16× the CPU, no wall
      // win. The scale lever that DOES work for an unsplittable scan
      // is an explicit post-read fan-out before heavy per-row work
      // (guide §2.5) — see ops.Fanout.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Dump timestamps as µs (not INT96/ns): the driver's pandas read of
      // our parquet then agrees with the DuckDB oracle's .df() dtype.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // WindowExec's blanket "No Partition Defined" warning fires on EVERY
    // unpartitioned window, including the sanctioned census shape (global
    // windows over bucket-grain aggregates — P-row offset tables in
    // ops.ShardedRank/BucketedPrefix). The repo's real rule is enforced
    // strictly by PlanAudit + WindowCensusSpec (zero unbounded global
    // windows, bounded-input proof per query), and the hundreds of
    // spurious lines drowned the driver's bench-tail capture in r11
    // (BENCH_r11.json parsed=null). Silence this one logger, not the rule.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
