package graft

import graft.ext.Skyline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkylineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force O(n²) dominance filter — the oracle the distributed
    * two-phase pass must reproduce exactly. */
  private def brute(pts: Seq[(Long, Long, Long, Long)])
      : Set[(Long, Long, Long, Long)] = {
    def dims(p: (Long, Long, Long, Long)) = Seq(p._2, p._3, p._4)
    pts.filter { a =>
      !pts.exists { b =>
        dims(b).zip(dims(a)).forall { case (x, y) => x >= y } &&
          dims(b).zip(dims(a)).exists { case (x, y) => x > y }
      }
    }.toSet
  }

  private def run(pts: Seq[(Long, Long, Long, Long)], parts: Int) =
    Skyline.skylineMax(
        pts.toDF("id", "d1", "d2", "d3").repartition(parts),
        Seq("d1", "d2", "d3"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("skylineMax matches brute-force dominance on a seeded fixture") {
    val rnd = new scala.util.Random(42)
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextInt(20).toLong, rnd.nextInt(20).toLong,
        rnd.nextInt(20).toLong))
    // Partitioning-invariance: 1, 7 and 32 partitions all agree.
    val expect = brute(pts)
    assert(run(pts, 1) == expect)
    assert(run(pts, 7) == expect)
    assert(run(pts, 32) == expect)
  }

  test("ties on the full dimension vector are all kept") {
    val pts = Seq((1L, 5L, 5L, 5L), (2L, 5L, 5L, 5L), (3L, 4L, 9L, 1L),
      (4L, 3L, 3L, 3L))
    val got = run(pts, 3)
    assert(got.map(_._1) == Set(1L, 2L, 3L))
  }

  test("anti-correlated chain: every point survives") {
    val pts = (0L until 50L).map(i => (i, i, 49L - i, 0L))
    assert(run(pts, 8).size == 50)
  }

  test("foldFrontier2 is insertion-order- and batch-split-invariant") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    def fold(ps: Seq[(Long, Long)]) = ps.foldLeft(List.empty[(Long, Long)])(Skyline.insert2)
    val base = fold(pts).sorted
    // Any permutation folds to the same frontier…
    (1 to 5).foreach { i =>
      val shuffled = new scala.util.Random(i).shuffle(pts)
      assert(fold(shuffled).sorted == base)
    }
    // …and folding in splits (state carried between batches) too.
    val (b1, b2) = pts.splitAt(73)
    val carried = b2.foldLeft(fold(b1))(Skyline.insert2)
    assert(carried.sorted == base)
    // And it matches the brute-force 2-D dominance filter as a set.
    val brute = pts.filter(a => !pts.exists(b =>
      b._1 >= a._1 && b._2 >= a._2 && (b._1 > a._1 || b._2 > a._2)))
    assert(base.toSet == brute.toSet)
  }

  test("insert2 keeps exact-tie duplicates, like the batch operator") {
    val f = Seq((5L, 5L), (5L, 5L), (3L, 3L))
      .foldLeft(List.empty[(Long, Long)])(Skyline.insert2)
    assert(f.sorted == List((5L, 5L), (5L, 5L)))
  }

  test("empty input yields an empty skyline") {
    assert(run(Seq.empty, 4).isEmpty)
  }

  test("non-BIGINT dimension is rejected") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Skyline.skylineMax(df, Seq("a"))
    }
  }
}
