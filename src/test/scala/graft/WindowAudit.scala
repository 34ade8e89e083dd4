package graft

/** Window census over an executed plan, for the census specs
  * (WindowCensusSpec, ShardedRankSpec, PlanSpec, SessionCacheSpec): where
  * a WindowExec sits, how it is partitioned, and whether its input is
  * bounded. Walks the plan with [[PlanAudit.walk]], so windows inside
  * AQE stages, cached relations and subqueries are counted too. */
object WindowAudit {

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
    PlanAudit.walk(plan, inSpan = false).map(_._1).collect {
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
}
