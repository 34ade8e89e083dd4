package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide WindowExec census (r10 verdict item 2): the bench tail's
  * "No Partition Defined for Window operation" warnings were adjudicated
  * with a BLANKET "those are oracle-/model-sized" claim — which failed
  * for q155, whose per-lang windows ran near-serially on the driver.
  * This pins the adjudication per query, with two UNIVERSAL rules read
  * off WindowAudit.windowShapes (plan-construction only — no execution —
  * so the full registry censuses in seconds):
  *
  *  1. An UNPARTITIONED window (arity 0 — the literal warning) must have
  *     a BOUNDED input: an aggregate, a limit, or a WindowGroupLimit
  *     below it. Zero exceptions — a global window over row-grain data
  *     is the one plan that cannot survive any scale.
  *  2. An UNBOUNDED window must not be partitioned SOLELY by
  *     low-cardinality corpus enums (lang ≈ 5, source ≈ 20,
  *     event_type ≈ 5 in the fixtures; the same handful at 100 TB) —
  *     that is the q155 shape: parallelism capped at the enum's
  *     cardinality, near-serial when one value dominates. Current
  *     offenders are pinned in [[allowed]] below; the list is a
  *     BURN-DOWN, not a sanction — remove entries as queries move to
  *     the ops.ShardedRank discipline, and never add without a written
  *     adjudication.
  *
  * High-cardinality partitions (user_id, doc_id, content_hash, …) over
  * unbounded inputs are fine — that is the shardable shape — and are
  * deliberately not pinned.
  */
object WindowCensusAllowed {
  /** Low-cardinality enum columns that cannot carry a corpus-sized
    * window's parallelism. */
  val lowCard: Set[String] = Set("lang", "source", "event_type", "k", "ctx")

  /** query -> (sorted partition-column signature -> count) of unbounded
    * low-card-partitioned windows still awaiting the ShardedRank
    * treatment. EMPTY since round 11: the 12 offenders the census
    * surfaced (per-lang/source/event_type/k ranks, ntiles, running sums
    * and lead pairings, plus q165's global ntile) all moved to
    * ops.ShardedRank forms, each oracle-verified identical. Keep it
    * empty — a new entry needs a written adjudication of why the
    * partition enum can carry a corpus. */
  val allowed: Map[String, Map[String, Int]] = Map.empty
}

class WindowCensusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("registry window census: no global row-grain window; low-card partitions pinned") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val observed = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val shapes =
        try WindowAudit.windowShapes(fn(spark, sf).queryExecution.executedPlan)
        finally graft.ops.TransientCache.releaseAll()
      shapes.filter(w => w.arity == 0 && !w.bounded).foreach { w =>
        failures += s"$name: GLOBAL window over an unbounded row-grain input ($w)"
      }
      val lowCardUnbounded = shapes.filter(w => w.arity > 0 && !w.bounded &&
        w.parts.forall(WindowCensusAllowed.lowCard))
      if (lowCardUnbounded.nonEmpty)
        observed(name) = lowCardUnbounded
          .groupBy(_.parts.sorted.mkString("+")).view.mapValues(_.size).toMap
    }
    val want = WindowCensusAllowed.allowed
    val got = observed.toMap
    if (got != want) {
      val literal = got.toSeq.sortBy(_._1).map { case (q, m) =>
        val sig = m.toSeq.sorted.map { case (k, v) => s""""$k" -> $v""" }.mkString(", ")
        s"""    "$q" -> Map($sig),"""
      }.mkString("\n")
      failures += ("low-card window census drift (current census below; " +
        "REMOVING entries is the goal, additions need a written adjudication):\n" + literal)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
