package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The file-source stream of a fixture table — the one reader the
  * streaming twins' input streams come from. */
object TableStream {

  /** Stream table `name` of `sfDir`:
    *  - `sfDir/<name>.parquet` is a directory: it is the stream dir;
    *  - it is a single FILE (pandas-written testdata): the file source
    *    needs a directory, so the file is exposed through a symlink in a
    *    fresh temp dir;
    *  - it is missing: `sfDir` itself holds the table's files (a test
    *    fixture dir).
    * The schema comes from [[Tables]]' per-session cache (no inference job
    * once the table has been loaded), and `ts` gets the batch loader's
    * normalization ([[Tables.plainTs]]), so a stream and its batch table
    * have one schema. `maxFilesPerTrigger` splits a multi-file directory
    * into that many micro-batches (oldest file first) — the cross-batch
    * test hook. */
  def read(spark: SparkSession, sfDir: String, name: String,
           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val src = new java.io.File(path)
    val (streamDir, schemaPath) =
      if (src.isDirectory) (path, path)
      else if (!src.exists()) (sfDir, sfDir)
      else {
        val d = java.nio.file.Files.createTempDirectory(s"${name}_stream")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(src.getName), src.toPath.toAbsolutePath)
        (d.toString, path)
      }
    val reader = spark.readStream.schema(Tables.schema(spark, schemaPath))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Tables.plainTs(reader.parquet(streamDir))
  }
}
