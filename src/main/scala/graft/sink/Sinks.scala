package graft.sink

import java.io.File
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
    * is written once, to [[staging]], and [[publish]]ed by rename; a
    * dataset left torn by a crashed publish is [[recover]]ed first, so a
    * crash never turns the next call into a first write. One writer per
    * path: concurrent upserts to the same path are not serialized. */
  def upsertParquet(df: DataFrame, path: String, keyCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    recover(path)
    // Only a genuinely absent target means "first write": any OTHER read
    // failure must propagate — swallowing it would overwrite (lose) the
    // existing dataset with just the incoming batch.
    val merged =
      if (!new File(path).exists()) df
      else spark.read.parquet(path)
        .join(df.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        .unionByName(df)
    merged.write.mode(SaveMode.Overwrite).parquet(staging(path, "upsert").getPath)
    publish(path, "upsert")
  }

  /** The dir a new generation of the dataset at `live` is written to
    * before [[publish]] renames it in under the same `tag`. */
  def staging(live: String, tag: String): File = new File(s"$live.next-$tag")

  private def retired(live: String, tag: String): File = new File(s"$live.old-$tag")

  /** Publish the complete dataset `staging(live, tag)` at `live` by
    * rename: retire the live generation to `<live>.old-<tag>`, rename the
    * staged dir into place, then drop the retired one. The two renames
    * are not atomic together: a failed publish renames the retired
    * generation back, and a process that dies between them leaves a torn
    * state that [[recover]] restores. The write-new-then-rename swap is
    * the local-FS stand-in for a table-format transactional commit
    * (Delta/Iceberg). */
  def publish(live: String, tag: String): Unit = {
    val dir = new File(live)
    val (next, old) = (staging(live, tag), retired(live, tag))
    val hadLive = dir.exists()
    if (hadLive && !dir.renameTo(old))
      throw new java.io.IOException(s"could not retire $live")
    if (!next.renameTo(dir)) {
      if (hadLive) old.renameTo(dir) // roll back; the dataset survives
      throw new java.io.IOException(s"could not publish $next")
    }
    FileUtils.deleteQuietly(old)
  }

  /** Restore a dataset left torn by a crashed [[publish]], then sweep
    * publish leftovers. If `live` is missing, a prior publish died
    * between retiring the old generation and publishing the new one: the
    * new generation survives as a complete staging dir (the parquet
    * commit protocol wrote its `_SUCCESS`) — rename it into place. With
    * no complete staging dir, the retired `.old-<tag>` dir IS the prior
    * generation — restore it. Either way a caller can never observe "no
    * dataset" after a crash and rebuild from its new batch alone. The
    * caller must keep other writers of `live` out: a staging dir may
    * otherwise be a write in flight. */
  def recover(live: String): Unit = {
    val dir = new File(live).getAbsoluteFile
    val name = dir.getName
    val siblings = Option(dir.getParentFile.listFiles()).getOrElse(Array.empty[File])
    val nexts = siblings.filter(_.getName.startsWith(s"$name.next-"))
    val olds = siblings.filter(_.getName.startsWith(s"$name.old-"))
    if (!dir.exists()) {
      val completeNext = nexts.find(n => new File(n, "_SUCCESS").exists())
      completeNext.orElse(olds.headOption).foreach { d =>
        if (!d.renameTo(dir))
          throw new java.io.IOException(s"could not restore $live from ${d.getName}")
      }
    }
    // Leftovers from a crash after publish (orphaned .old-*) or before
    // retire (incomplete .next-*) are garbage once live exists.
    if (dir.exists()) (nexts ++ olds).foreach(FileUtils.deleteQuietly)
  }
}
