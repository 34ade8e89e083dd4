package graft.sink

import java.io.File
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.commons.io.FileUtils
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

  /** Parquet append with upsert-by-key semantics (S8: the
    * Postgres ON CONFLICT analogue — existing keys are replaced by the
    * incoming batch; at scale this is a Delta MERGE). The merged dataset
    * is written once, to a fresh [[generation]], and [[publish]]ed by one
    * link swap, so a crash leaves the previous dataset in place. One
    * writer per path: concurrent upserts to the same path are not
    * serialized. */
  def upsertParquet(df: DataFrame, path: String, keyCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    // Only a genuinely absent target means "first write": any OTHER read
    // failure must propagate — swallowing it would overwrite (lose) the
    // existing dataset with just the incoming batch.
    val merged =
      if (!new File(path).exists()) df
      else spark.read.parquet(path)
        .join(df.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        .unionByName(df)
    // A fresh tag: the merge reads the live generation while it writes.
    val tag = UUID.randomUUID().toString
    merged.write.mode(SaveMode.Overwrite).parquet(generation(path, tag).getPath)
    publish(path, tag)
  }

  /** The dir a new generation of the dataset at `live` is written to
    * before [[publish]] points `live` at it. A writer never passes the
    * tag of the live generation. */
  def generation(live: String, tag: String): File = new File(s"$live.gen-$tag")

  /** Publish the complete dataset `generation(live, tag)` at `live` in one
    * atomic step: a fresh relative symlink to the generation is renamed
    * over `live` (one rename(2)), then every other `<live>.gen-*` and
    * `<live>.link-*` sibling is deleted. Readers open `live` through the
    * link and see the old generation or the new one, never a mix. A
    * crash at any point leaves `live` whole; what it can leave beside it
    * (a generation nothing points at, a superseded generation, a temp
    * link) is garbage the next publish sweeps. A `live` that is still a
    * plain directory (written before this layout) cannot be renamed
    * over, so it is first retired under a fresh generation name, which
    * the sweep then removes; readers miss it only between those two
    * renames. The link swap is the local-FS stand-in for a table-format
    * transactional commit (Delta/Iceberg). */
  def publish(live: String, tag: String): Unit = {
    val gen = generation(live, tag)
    if (!gen.isDirectory) throw new java.io.IOException(s"no generation $gen to publish")
    val dir = Paths.get(live).toAbsolutePath
    val name = dir.getFileName.toString
    val link = dir.resolveSibling(s"$name.link-${UUID.randomUUID()}")
    Files.createSymbolicLink(link, Paths.get(gen.getName))
    if (Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS))
      Files.move(dir, generation(dir.toString, UUID.randomUUID().toString).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    Files.move(link, dir, StandardCopyOption.ATOMIC_MOVE)
    Option(dir.getParent.toFile.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val n = f.getName
      if (n.startsWith(s"$name.link-")) Files.deleteIfExists(f.toPath)
      else if (n.startsWith(s"$name.gen-") && n != gen.getName) FileUtils.deleteQuietly(f)
    }
  }
}
