package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden whole-stage-codegen census (r8 verdict item 5): PlanAudit's
  * wscg/noncg columns existed but nothing FAILED when a hot query's
  * operator drifted out of codegen — the regression only surfaced as a
  * bench delta a round later. This pins the NON-CODEGEN OPERATOR COUNT
  * for a hot-query set against a committed golden, so the drift becomes
  * a named red test at commit time.
  *
  * noncg is the pinned column because it is the drift signal AND the
  * stable one: an operator leaving codegen raises it by exactly
  * one. The wscg span COUNT is deliberately not asserted — AQE merges
  * or splits spans based on runtime shuffle stats, and whether a
  * transient cache entry from the warm pass finished its async
  * unpersist flips span boundaries (observed: q259 18↔17 spans, noncg
  * 22 in both states) without any operator changing execution mode.
  *
  * Census state is the deterministic WARM shape: each query runs once
  * first so its session artifacts exist (SessionCacheSpec uses a private
  * newSession precisely so no concurrent suite clears them), then the
  * censused execution sees stable InMemory scans.
  *
  * Intentional plan changes: run with SPARK_GRAFT_ACCEPT_CENSUS=1 —
  * the spec prints the updated golden map literal to paste below (and
  * still fails if it differed, so acceptance is an explicit edit, never
  * an env var left set in CI).
  */
object CodegenCensusGolden {
  /** name -> non-codegen operator count, sf0.001, warm state, shared
    * 4-thread test session. */
  val golden: Map[String, Int] = Map(
    // r12 optimization round: the large drops (q198 122 -> 9, q23
    // 41 -> 10, q202 27 -> 8, q258 34 -> 14) are the shared-artifact +
    // fan-out rewrites — warm plans now read cached artifacts
    // (InMemoryTableScan) instead of re-deriving interpreted chains.
    // The census walks the plan tree (final plans only) and descends
    // into every cached relation, so a query that reads session
    // artifacts or persisted intermediates also counts their build
    // plans' row-based operators; each artifact read itself is one
    // InMemoryTableScan. The old text census stopped at the first
    // nested "== Initial Plan ==", so these counts rose when it was
    // replaced (q178, q259, q26, q87 with identical plans).
    "q01_pricing_summary" -> 3,
    "q03_filter_members" -> 14,
    "q164_join_size_estimate" -> 13,
    "q178_ks_drift" -> 34,
    "q198_lsh_band_sweep" -> 138,
    "q202_prefix_filter_join" -> 140,
    "q225_winnow_density" -> 25,
    "q228_ppjoin_positional" -> 109,
    "q23_dedup_minhash_lsh" -> 47,
    "q258_peak_concurrency" -> 286,
    "q259_watermark_lateness" -> 41,
    "q26_embed_neardup" -> 16,
    "q60_chunk_windows" -> 4,
    "q66_pii_redaction" -> 2,
    "q87_ivfpq_ann" -> 22,
    "q92_block_dedup" -> 9,
  )

  /** Queries whose warm noncg count legitimately bistables with
    * concurrent-suite artifact state (q87's IVF chain subtrees read as
    * InMemory scans or full plans depending on WHICH suite built them
    * first in the shared session — observed 24 isolated vs 22 under a
    * parallel full run, no operator changing execution mode). Any
    * listed value passes; a value outside the set is still drift. */
  val tolerated: Map[String, Set[Int]] = Map(
    "q87_ivfpq_ann" -> Set(22, 24),
  )
}

class CodegenCensusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("hot-query codegen census matches the committed golden") {
    val names = CodegenCensusGolden.golden.keys.toSeq.sorted
    // Warm pass: materialize once so session artifacts exist and the
    // censused plan is the stable warm shape.
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf).queryExecution.toRdd.count()
      graft.ops.TransientCache.releaseAll()
    }
    val got = names.map { n =>
      val cs = PlanAudit.census(SparkEntry.queries(n)(spark, sf).queryExecution)
      graft.ops.TransientCache.releaseAll()
      n -> cs
    }
    val diffs = got.filter { case (n, cs) =>
      CodegenCensusGolden.golden(n) != cs.noncg &&
        !CodegenCensusGolden.tolerated.get(n).exists(_.contains(cs.noncg)) }
    if (diffs.nonEmpty || sys.env.contains("SPARK_GRAFT_ACCEPT_CENSUS")) {
      val literal = got.map { case (n, cs) =>
        s"""    "$n" -> ${cs.noncg}, // wscg ${cs.wscg}"""
      }.mkString("\n")
      info(s"current census (paste into CodegenCensusGolden.golden):\n$literal")
    }
    assert(diffs.isEmpty, diffs.map { case (n, cs) =>
      s"$n: noncg ${CodegenCensusGolden.golden(n)} -> ${cs.noncg} (wscg ${cs.wscg})"
    }.mkString("codegen census drift (accept via the printed literal):\n",
      "\n", ""))
  }
}
