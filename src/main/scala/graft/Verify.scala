package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump every query to `outDir/<name>` parquet. Failure visibility
    * (round-5 verdict item 2): a thrown query must leave a RED row, never
    * a vanished one. Each failure still writes its output dir (containing
    * only an `_ERR` marker, so the driver's parquet read errors loudly
    * instead of the key silently dropping out of CORRECTNESS), and all
    * failures land in `outDir/_errors.json` ("{}" when clean). Returns the
    * failure map; factored out of main so a spec can drive it with a
    * deliberately-broken query.
    *
    * Output normalization ([[graft.queries.Parity.outputDoubles]] — decimal
    * → double, tz-aware timestamp → TIMESTAMP_NTZ) is applied HERE,
    * unconditionally, not per query: round 7 shipped three queries that
    * each forgot the per-query cast and failed the driver's strict
    * schema+hash gate on a wall-clock-identical answer (r7 verdict item 1).
    * A dump-boundary convention belongs at the dump boundary. */
  private[graft] def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try graft.queries.Parity.outputDoubles(fn(spark, sfDir))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        val dir = Paths.get(s"$outDir/$name")
        try {
          if (Files.exists(dir))
            Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_ERR"), errors(name))
        } catch { case _: Throwable => () }
      }
      finally graft.ops.TransientCache.releaseAll()
    }
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    dumpAll(spark, sfDir, outDir, SparkEntry.selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
