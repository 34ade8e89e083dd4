package graft

object PlanAudit {

  /** Per-query physical-plan census over the EXECUTED plan (AQE final),
    * walked with [[walk]]: final plans only, session artifacts' build
    * plans included. wscg = WholeStageCodegen spans; noncg = physical
    * operators running outside every span — the row-based residue. Pure
    * wrapper nodes (InputAdapter, ReusedExchange, AQEShuffleRead, …) are
    * excluded from noncg (r8 advice item 4): they are plumbing that
    * appears/disappears with plan shape, not operators leaving codegen,
    * and counting them blurred the round-over-round drift signal. */
  final case class Census(exch: Int, cart: Int, bnlj: Int, smj: Int,
                          bhj: Int, scans: Int, wscg: Int, noncg: Int)

  /** Nodes that never execute row-processing work of their own: pipe
    * fittings between spans, AQE rewrites, and reuse markers. */
  private val wrapperNodes = Set(
    "InputAdapter", "ReusedExchange", "ReusedSubquery", "AQEShuffleRead",
    "ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage",
    "ResultQueryStage", "AdaptiveSparkPlan", "Subquery", "SubqueryBroadcast",
    "ColumnarToRow", "RowToColumnar", "WholeStageCodegen")

  def census(qe: org.apache.spark.sql.execution.QueryExecution): Census = {
    // Materialize first: with AQE the pre-execution plan still shows
    // estimate-based joins (e.g. SMJ) that the runtime re-plans to
    // broadcast — the census must reflect the plan that actually ran.
    qe.toRdd.count()
    census(qe.executedPlan)
  }

  /** The census of a plan that has ALREADY executed (Bench reads it
    * after its timed action instead of running the query again). */
  def census(plan: org.apache.spark.sql.execution.SparkPlan): Census = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.joins._
    val nodes = walk(plan, inSpan = false)
    def c(f: PartialFunction[SparkPlan, Boolean]) =
      nodes.count { case (n, _) => f.applyOrElse(n, (_: SparkPlan) => false) }
    val nonCg = nodes.count { case (n, inSpan) =>
      !inSpan && !wrapperNodes.contains(n.nodeName.takeWhile(_.isLetterOrDigit))
    }
    Census(
      c { case e: exchange.ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] },
      c { case _: CartesianProductExec => true },
      c { case _: BroadcastNestedLoopJoinExec => true },
      c { case _: SortMergeJoinExec => true },
      c { case _: BroadcastHashJoinExec => true },
      c { case _: FileSourceScanExec => true },
      c { case _: WholeStageCodegenExec => true }, nonCg)
  }

  /** Flatten a physical plan including the subtrees the default
    * `children` walk hides: AQE wrappers, materialized query stages,
    * cached-relation plans, and subqueries — with whether each node runs
    * inside a WholeStageCodegen span (below the span node, above its
    * InputAdapters). An AdaptiveSparkPlan contributes only its current
    * (after execution: final) plan, never the initial one. Window-census
    * traversals must see through all of them too — a single-partition
    * window inside a persisted intermediate is exactly as serial as one
    * at top level. */
  private[graft] def walk(p: org.apache.spark.sql.execution.SparkPlan, inSpan: Boolean)
      : Seq[(org.apache.spark.sql.execution.SparkPlan, Boolean)] = {
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val (kids, kidsInSpan) = p match {
      case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), false)
      case q: QueryStageExec => (Seq(q.plan), false)
      case s: InMemoryTableScanExec => (Seq(s.relation.cachedPlan), false)
      case _: WholeStageCodegenExec => (p.children, true)
      case _: InputAdapter => (p.children, false)
      case _ => (p.children, inSpan)
    }
    (p, inSpan) +: (kids.flatMap(walk(_, kidsInSpan)) ++
      p.subqueries.flatMap(walk(_, inSpan = false)))
  }
}
