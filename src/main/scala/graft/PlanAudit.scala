package graft

object PlanAudit {

  /** Per-query physical-plan census over the EXECUTED plan (AQE final),
    * walked with [[flatten]]: final plans only, session artifacts' build
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
    * cached-relation plans, and subqueries. Window-census traversals
    * must see through all of them — a single-partition window inside a
    * persisted intermediate is exactly as serial as one at top level. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    walk(p, inSpan = false).map(_._1)

  /** [[flatten]]'s walk, with whether each node runs inside a
    * WholeStageCodegen span (below the span node, above its
    * InputAdapters). An AdaptiveSparkPlan contributes only its current
    * (after execution: final) plan, never the initial one. */
  private def walk(p: org.apache.spark.sql.execution.SparkPlan, inSpan: Boolean)
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

  /** One WindowExec's census coordinates: partition-spec arity, whether
    * its input is BOUNDED below — by an aggregate (bucket-grain offset
    * tables), a WindowGroupLimit (rank-limit pushdown keeps ≤ k rows per
    * group per upstream partition), or a limit — and the partition
    * column names. The coordinates decide whether a window can serialize
    * a corpus: arity 0 over an unbounded input is the literal "Moving
    * all data to a single partition" warning; a low-cardinality
    * partition over an unbounded input is the q155 shape (parallelism
    * capped at the partition column's cardinality). */
  final case class WindowShape(arity: Int, bounded: Boolean,
                               parts: Seq[String])

  def windowShapes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[WindowShape] =
    flatten(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        val parts = w.partitionSpec.map {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
          case e => e.sql
        }
        WindowShape(w.partitionSpec.size, boundedBelow(w.child), parts)
    }

  /** Does an aggregate / limit / group-limit bound the row volume on the
    * path below `p`? Broadcast-exchange subtrees are NOT descended: the
    * window's input cardinality follows the PROBE side of a broadcast
    * join, and the build side is small by definition — an agg there says
    * nothing about row volume (the q249 false positive). */
  private def boundedBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => false
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.CollectLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case a: AdaptiveSparkPlanExec => boundedBelow(a.executedPlan)
      case q: QueryStageExec => boundedBelow(q.plan)
      case s: InMemoryTableScanExec => boundedBelow(s.relation.cachedPlan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        // A join's output volume is driven by EVERY non-broadcast side:
        // an aggregate on one leg of a shuffle join says nothing about
        // the corpus-sized rows the other leg streams through (the old
        // children.exists let exactly that shape read as "bounded").
        // Broadcast build sides are skipped — small by definition, but
        // no bound on output volume.
        val probe = j.children.filterNot(isBroadcastSide)
        probe.nonEmpty && probe.forall(boundedBelow)
      case _ => p.children.exists(boundedBelow)
    }
  }

  private def isBroadcastSide(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    p match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => true
      case q: QueryStageExec => isBroadcastSide(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        isBroadcastSide(r.child)
      case _ => false
    }
  }

  /** Count of UNPARTITIONED WindowExec nodes — each one moves its whole
    * input to a single task. The registry census pins these against the
    * universal bounded-input rule (WindowCensusSpec). */
  def globalWindowCount(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    windowShapes(plan).count(_.arity == 0)
}
