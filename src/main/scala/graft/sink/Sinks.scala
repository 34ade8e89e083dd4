package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Export sinks (SURVEY.md §2.1 S6/S8/S10): CSV, JSON, parquet append
  * with dedup — plus the control-char scrub the reference applies before
  * exporting (R6/F8).
  *
  * Scale rule: `coalesce(1)` is EXPORT-ONLY (interactive downloads, like
  * the reference's result CSVs); engine-path writes stay partitioned.
  */
object Sinks {

  /** F8 illegal-character scrub applied to all string columns
    * (ref `scanner/DGIS_SCAN_2_stable.py:446,667`). */
  def scrubbed(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType.typeName == "string").foldLeft(df) {
      (d, f) => d.withColumn(f.name,
        regexp_replace(col(f.name), "[\\x00-\\x1F\\x7F]", ""))
    }

  /** Single-file CSV export with header (S6). */
  def csvExport(df: DataFrame, path: String): Unit =
    scrubbed(df).coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** JSON lines export (S10). */
  def jsonExport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned parquet write — the 100 TB storage layout:
    * a corpus partitioned by a low-cardinality column (language, date,
    * source) turns every per-partition query into a directory-pruned
    * scan that never opens the other partitions' files (PlanSpec asserts
    * the pruning). Engine-path write: stays fully parallel, no
    * coalesce. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite — the incremental-backfill write: only
    * the partitions PRESENT in the incoming batch are replaced; every
    * other partition's files are untouched (ServiceSpec pins this). At
    * 100 TB this is how a daily re-process lands one date=... directory
    * without static Overwrite's truncate-the-world semantics, and
    * without reading a byte of the other partitions. Session-config
    * scoped: the previous partitionOverwriteMode is restored even on
    * failure. */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Bucketed managed table — the co-located-join layout: two tables
    * bucketed by the same join key into the same bucket count join with
    * ZERO exchange (PlanSpec asserts it). At 100 TB this is how the
    * fact-to-fact joins (lineitem⋈orders, postings⋈postings) avoid
    * re-shuffling terabytes per query: the shuffle is paid once at
    * write time. Requires saveAsTable (bucket metadata lives in the
    * catalog). */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** Partitioned parquet append with upsert-by-key semantics (S8: the
    * Postgres ON CONFLICT analogue — existing keys are replaced by the
    * incoming batch; at scale this is a Delta MERGE). The merged dataset
    * is written once, to `<path>_tmp`, and published by [[swap]]. */
  def upsertParquet(df: DataFrame, path: String, keyCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Only a genuinely absent target means "first write": any OTHER read
    // failure must propagate — swallowing it would overwrite (lose) the
    // existing dataset with just the incoming batch.
    val merged =
      if (!fs.exists(target)) df
      else spark.read.parquet(path)
        .join(df.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        .unionByName(df)
    val tmp = new Path(path + "_tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swap(fs, tmp, target)
  }

  /** Small-file compaction: rewrite a parquet dataset into
    * ⌈rows / targetRows⌉ files (the OPTIMIZE/bin-packing maintenance
    * pass every lakehouse runs — a 100 TB table accreted from streaming
    * micro-batches or per-key upserts degrades into millions of KB-sized
    * files whose open/footer cost dominates scans; compaction restores
    * scan-speed reads without touching a single row). Same
    * write-tmp-then-[[swap]] publish as [[upsertParquet]]; rows and
    * schema are asserted unchanged by ServiceSpec. Returns the file
    * count. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetRows: Long): Int = {
    require(targetRows > 0, "targetRows must be positive")
    val df = spark.read.parquet(path)
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val tmp = new Path(path + "_compact_tmp")
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Publish by RENAME, not rewrite: a read-back rewrite would re-split
    // on maxPartitionBytes and undo the very file layout being built.
    swap(tmp.getFileSystem(spark.sparkContext.hadoopConfiguration), tmp, new Path(path))
    nFiles
  }

  /** Publish the finished dataset `staged` at `target` by rename:
    * retire the live generation to `<target>_old`, rename `staged` into
    * place, then drop the retired one. The old generation survives until
    * the new one is in place, and a failed publish renames it back, so
    * the dataset never vanishes. */
  private def swap(fs: FileSystem, staged: Path, target: Path): Unit = {
    val old = new Path(target.toString + "_old")
    if (fs.exists(old)) fs.delete(old, true)
    val hadLive = fs.exists(target)
    if (hadLive && !fs.rename(target, old))
      throw new java.io.IOException(s"could not retire $target")
    if (!fs.rename(staged, target)) {
      if (hadLive) fs.rename(old, target) // roll back
      throw new java.io.IOException(s"could not publish $staged")
    }
    fs.delete(old, true)
  }
}
