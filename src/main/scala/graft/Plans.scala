package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registry queries to text files —
  * the measurement artifact the optimization rounds commit under
  * `plans/<round>/` so plan-shape claims (Exchange counts, join
  * strategies, PushedFilters) are checkable without running Spark.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR      data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        local core count (default 32)
  *   SPARK_GRAFT_PLANS_DIR   output dir (default plans/r12)
  *   SPARK_GRAFT_BENCH_ONLY  query filter ([[SparkEntry.selected]])
  *   SPARK_GRAFT_PLANS_SUFFIX  file suffix, e.g. "before"/"after"
  *
  * Only builds plans (analysis + physical planning) — no query executes,
  * but session-artifact builders that run driver-side actions during
  * DataFrame construction (BPE merges, SQ ranges) do fire, as they
  * would for any plan inspection.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val spark = GraftSession.local(cpus, "graft-plans")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.selected.foreach { case (name, fn) =>
      try {
        val df = graft.queries.Parity.outputDoubles(fn(spark, sfDir))
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
        println(s"[plans] wrote $name ($suffix)")
      } catch {
        case e: Throwable => System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      } finally graft.ops.TransientCache.releaseAll()
    }
    spark.stop()
  }
}
