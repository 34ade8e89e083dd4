package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator registry; each entry has a
  * matching DuckDB oracle in `oracleSql` (or a documented rows-only check
  * where plain SQL can't express the op).
  */
object SparkEntry {

  /** THE registry size, declared once. README/COVERAGE cite this number
    * and `RelationalSpec` asserts `queries.size == registrySize` — so a
    * count drifting (a query landing without the docs, or a registry
    * edit silently shrinking the surface) is a red test, not a doc bug.
    * Update this constant in the same commit that adds or removes a
    * query. */
  val registrySize: Int = 278

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.defs ++
      graft.queries.MdxQueries.defs ++
      graft.queries.ExtQueries.defs ++
      graft.queries.EventQueries.defs ++
      graft.queries.MetaQueries.defs ++
      graft.queries.PipelineQueries.defs ++
      graft.queries.AnalyticsQueries.defs ++
      graft.queries.StemmedFtsQueries.defs

  /** The registry in name order, narrowed by `SPARK_GRAFT_BENCH_ONLY`
    * (comma-separated name substrings; unset or empty = every query) —
    * the one query filter of Bench, Verify and Plans. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val pats = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "").split(",").map(_.trim).filter(_.nonEmpty)
    queries.toSeq.filter { case (n, _) => pats.isEmpty || pats.exists(n.contains) }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.MdxQueries.oracles ++
      graft.queries.ExtQueries.oracles ++
      graft.queries.EventQueries.oracles ++
      graft.queries.MetaQueries.oracles ++
      graft.queries.PipelineQueries.oracles ++
      graft.queries.AnalyticsQueries.oracles ++
      graft.queries.StemmedFtsQueries.oracles
}
