package graft

import graft.ops.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the temporal join operators: on random keyed event
  * sets, the scale-shaped implementations (union+window as-of, bucket-
  * banded range join) must equal the naive reference semantics computed
  * directly in Scala. Fixed seeds (the MdxPropertySpec pattern) keep
  * failures reproducible. */
class PipelinePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // (id, key, timeSeconds) — small domains force key collisions and
  // time ties, the cases where tie-break rules matter.
  private case class Ev(id: Long, key: Long, t: Long)

  private val evGen: Gen[Ev] = for {
    id <- Gen.choose(0L, 10000L)
    key <- Gen.choose(0L, 4L)
    t <- Gen.choose(0L, 40L)
  } yield Ev(id, key, t)

  private def evSet(seed: Long, n: Int): Seq[Ev] = {
    val params = Gen.Parameters.default
    val g = Gen.listOfN(n, evGen)
    // distinct ids: both operators assume a unique tiebreak column
    g(params, org.scalacheck.rng.Seed(seed)).getOrElse(Nil)
      .groupBy(_.id).map(_._2.head).toSeq
  }

  private def toDf(evs: Seq[Ev]) = {
    import spark.implicits._
    evs.map(e => (e.id, e.key, new java.sql.Timestamp(e.t * 1000L)))
      .toDF("id", "key", "t")
  }

  test("asOfInner equals the naive latest-at-or-before semantics on matched rows") {
    for (seed <- 1L to 8L) {
      val left = evSet(seed, 30)
      val right = evSet(seed + 100, 30)
      val got = AsOfJoin.asOfInner(toDf(left), toDf(right), "key", "t",
          Seq("id"), "id")
        .select(col("id"), col("r_id"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toSeq
      val expected = left.flatMap { l =>
        val cands = right.filter(r => r.key == l.key && r.t <= l.t)
        Option.when(cands.nonEmpty)(l.id -> cands.maxBy(r => (r.t, r.id)).id)
      }
      assert(got.sorted == expected.sorted, s"seed $seed diverged")
    }
  }

  test("rangeJoin pairs equal the brute-force window filter on random sets") {
    val windowSec = 10L
    for (seed <- 1L to 8L) {
      val left = evSet(seed, 30)
      val right = evSet(seed + 200, 30)
      val got = RangeJoin.pairsWithinAfter(toDf(left), toDf(right), "key",
          "t", "t", windowSec * 1000000L, Seq("id"), "r_")
        .select(col("id"), col("r_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        l <- left
        r <- right
        if r.key == l.key && r.t > l.t && r.t <= l.t + windowSec
      } yield (l.id, r.id)).toSet
      assert(got == expected, s"seed $seed diverged")
    }
  }


  test("sharedSpans equals the brute-force per-diagonal run scan on planted corpora") {
    import graft.ext.Dedup
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val rnd = new scala.util.Random(seed)
      def vocab() = s"w${rnd.nextInt(200)}"
      // Random docs, then plant segments of doc A into doc B so real
      // >=minSpan shared runs exist (pure chance would make none).
      val base = (1L to 8L).map { id =>
        id -> Array.fill(30 + rnd.nextInt(40))(vocab())
      }.toMap
      val planted = base.map { case (id, toks) =>
        if (id <= 2 || rnd.nextBoolean()) id -> toks
        else {
          val src = base(1L + rnd.nextInt(2))
          val segLen = 12 + rnd.nextInt(19)
          val from = rnd.nextInt(math.max(1, src.length - segLen))
          val seg = src.slice(from, from + segLen)
          val at = rnd.nextInt(toks.length)
          id -> (toks.take(at) ++ seg ++ toks.drop(at))
        }
      }
      val docs = planted.toSeq.map { case (id, t) => (id, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val window = 10; val minSpan = 15
      val got = Dedup.sharedSpans(docs, "text", "doc_id", window, minSpan, 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // Reference: for every pair and diagonal, scan maximal equal runs.
      val ids = planted.keys.toSeq.sorted
      val expected = (for {
        ai <- ids.indices.iterator; bi <- (ai + 1 until ids.length).iterator
        (a, b) = (ids(ai), ids(bi))
        (ta, tb) = (planted(a), planted(b))
        d <- (-(tb.length - 1) to (ta.length - 1)).iterator
        runs = {
          val i0 = math.max(0, d); val j0 = i0 - d
          val steps = math.min(ta.length - i0, tb.length - j0)
          val rs = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
          var k = 0; var runStart = -1
          while (k < steps) {
            val eq = ta(i0 + k) == tb(j0 + k)
            if (eq && runStart < 0) runStart = k
            if ((!eq || k == steps - 1) && runStart >= 0) {
              val runEnd = if (eq) k else k - 1
              rs += ((runStart, runEnd - runStart + 1)); runStart = -1
            }
            k += 1
          }
          rs.toList
        }
        (st, len) <- runs.iterator if len >= minSpan
      } yield (a, b, (math.max(0, d) + st + 1).toLong,
        (math.max(0, d) - d + st + 1).toLong, len.toLong)).toSet
      assert(got == expected, s"seed $seed diverged: got ${got.size}, expected ${expected.size}")
      graft.ops.TransientCache.releaseAll()
    }
  }

  test("chunkWindows covers every token exactly per the stride arithmetic") {
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val rnd = new scala.util.Random(seed)
      val nTok = 1 + rnd.nextInt(40)
      val window = 1 + rnd.nextInt(10)
      val stride = 1 + rnd.nextInt(window) // stride <= window: full coverage
      val text = (0 until nTok).map(i => s"t$i").mkString(" ")
      val chunks = graft.ext.TextAnalysis.chunkWindows(
          Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id",
          window, stride)
        .select("start_tok", "n_chunk_tokens")
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      val expectedStarts = (0 until nTok by stride).toSeq
      assert(chunks.map(_._1).toSeq.sorted == expectedStarts.sorted)
      // full coverage: the union of [start, start+len) is [0, nTok)
      val covered = chunks.flatMap { case (s, len) => s until (s + len) }.toSet
      assert(covered == (0 until nTok).toSet, s"seed $seed lost tokens")
      // every chunk is window-sized except possibly trailing ones
      chunks.foreach { case (s, len) =>
        assert(len == math.min(window, nTok - s), s"seed $seed bad len at $s")
      }
    }
  }

  test("unimaxAlloc closed form equals the paper's sequential greedy on random masses") {
    import spark.implicits._
    // Exact-rational sequential greedy (Chung et al. 2023 Alg. 1):
    // ascending by (n, lang), share = remaining/langsLeft with BigInt
    // rationals so no float rounding can mask a divergence.
    def greedy(masses: Seq[(String, Long)], budget: BigInt, e: Long)
        : (Set[String], BigInt, Int) = {
      var remNum = budget; var remDen = BigInt(1)
      var capped = Set.empty[String]
      val sorted = masses.sortBy { case (l, n) => (n, l) }
      var left = sorted.size
      sorted.foreach { case (lang, n) =>
        // capped iff E*n < remNum/remDen/left  <=>  E*n*left*remDen < remNum
        if (BigInt(e) * n * left * remDen < remNum) {
          capped += lang
          remNum = remNum - BigInt(e) * n * remDen // subtract E*n
        } else {
          // alloc = rem/left: rem' = rem*(left-1)/left
          remNum *= BigInt(left - 1); remDen *= BigInt(left)
        }
        left -= 1
      }
      val cappedMass = masses.filter(m => capped(m._1)).map(m => BigInt(m._2)).sum
      (capped, budget - BigInt(e) * cappedMass, masses.size - capped.size)
    }
    for (seed <- 1L to 12L) {
      val rnd = new scala.util.Random(seed)
      val nLangs = 2 + rnd.nextInt(8)
      val masses = (0 until nLangs).map(i =>
        (f"l$i%02d", rnd.nextInt(5000).toLong))
      val budgetPpm = 50000L + rnd.nextInt(900000)
      val e = 1L + rnd.nextInt(3)
      val total = masses.map(_._2).sum
      val budget = (BigInt(budgetPpm) * total) / 1000000
      val got = graft.ext.Sampling
        .unimaxAlloc(masses.toDF("lang", "n_tokens"), "lang", "n_tokens",
          budgetPpm, e)
        .select("lang", "capped", "alloc_tokens")
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
      val (expCapped, leftover, uncapped) = greedy(masses, budget, e)
      assert(got.filter(_._2).map(_._1).toSet == expCapped, s"seed $seed capped set")
      got.foreach { case (lang, capped, alloc) =>
        val n = masses.find(_._1 == lang).get._2
        if (capped) assert(alloc == e * n, s"seed $seed $lang capped alloc")
        else assert(BigInt(alloc) == leftover / uncapped,
          s"seed $seed $lang uncapped alloc")
      }
      // budget conservation: allocations + reported remainder == budget
      val allocSum = got.map(r => BigInt(r._3)).sum
      val rem = if (uncapped == 0) BigInt(0) else leftover % uncapped
      assert(allocSum + rem == budget, s"seed $seed budget not conserved")
    }
  }

  test("BPE: every merge chain partitions the word; round-1 winner is the brute argmax") {
    import graft.ext.Bpe
    val rnd = new scala.util.Random(424242)
    for (trial <- 1 to 25) {
      // small alphabet + short words force heavy pair collisions,
      // ties, and abutting self-pairs (the contract's edge case)
      val vocab = (1 to 12).map { _ =>
        val w = (1 to (2 + rnd.nextInt(5)))
          .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
        (w, 1L + rnd.nextInt(9))
      }.distinct
      val merges = Bpe.trainMerges(vocab, 6)
      // invariant: a segmentation is a PARTITION of the word — applying
      // the chain to any word (trained or unseen) concatenates back
      val unseen = Seq("abcd", "dcba", "aaaa", "x")
      (vocab.map(_._1) ++ unseen).foreach { w =>
        val seg = merges.foldLeft(Bpe.guardedSeg(w))((s, m) =>
          Bpe.applyMerge(s, m.symA, m.symB))
        assert(seg.trim.split(" ").filter(_.nonEmpty).mkString == w,
          s"trial $trial: chain broke word '$w' -> '$seg'")
      }
      // round 1 must pick the brute-force (count desc, pair asc) argmax
      // over adjacent CHAR pairs weighted by frequency
      if (merges.nonEmpty) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (w, f) =>
          w.sliding(2).filter(_.length == 2).foreach { p =>
            val k = (p(0).toString, p(1).toString)
            counts(k) = counts.getOrElse(k, 0L) + f
          }
        }
        val ((ea, eb), en) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        val m1 = merges.head
        assert((m1.symA, m1.symB, m1.pairCount) == ((ea, eb, en)),
          s"trial $trial: round-1 merge ${(m1.symA, m1.symB, m1.pairCount)} != brute ${(ea, eb, en)}")
      }
    }
  }
}
