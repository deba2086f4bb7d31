package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit pins for the shared banded dup rules ([[PerceptualDedup]]):
  * standing drops, the smaller-id peer rule, threshold boundaries, NULL
  * hash behavior, the pigeonhole precondition, and the self-join pair
  * list against a brute-force Hamming pass.
  */
class PerceptualDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def flip(p: Long, ks: Int*): Long = ks.foldLeft(p)((x, k) => x ^ (1L << k))

  test("dup vs standing at any id order; smaller-peer rule inside the probe") {
    val standing = Seq((1L, 100L)).toDF("doc_id", "hash")
    val probe = Seq(
      (10L, flip(100L, 5)),        // hamming 1 vs standing → dup
      (11L, 7777L),                // far from everything smaller → clean
      (12L, flip(7777L, 3, 40)),   // hamming 2 vs SMALLER peer 11 → dup
      (9L, 0x00FF00FF00FF00FFL)    // far from everything → clean
    ).toDF("doc_id", "hash")
    assert(ids(PerceptualDedup.dupIds(probe, standing, 3)) == Set(10L, 12L))
    // the asymmetry spelled out: near-dup pair (9', 11') with 9' smaller
    // — only the LARGER member drops
    val pair = Seq((9L, 7777L), (11L, flip(7777L, 2))).toDF("doc_id", "hash")
    assert(ids(PerceptualDedup.dupIds(pair,
      Seq.empty[(Long, Long)].toDF("doc_id", "hash"), 3)) == Set(11L))
  }

  test("threshold boundary: hamming == maxDist is a dup, maxDist+1 is not") {
    val standing = Seq((1L, 0L)).toDF("doc_id", "hash")
    val at3 = Seq((20L, flip(0L, 1, 2, 3))).toDF("doc_id", "hash")
    val at4 = Seq((21L, flip(0L, 1, 2, 3, 4))).toDF("doc_id", "hash")
    assert(ids(PerceptualDedup.dupIds(at3, standing, 3)) == Set(20L))
    assert(ids(PerceptualDedup.dupIds(at4, standing, 3)) == Set.empty[Long])
    // ...but 4 one-per-band flips never even reach the verify (no intact
    // band), exactly the pigeonhole argument's boundary
    val perBand = Seq((22L, flip(0L, 2, 19, 37, 55))).toDF("doc_id", "hash")
    assert(ids(PerceptualDedup.dupIds(perBand, standing, 3)) == Set.empty[Long])
  }

  test("NULL hashes never match anything — either side") {
    val standing = Seq((1L, Some(0L)), (2L, None)).toDF("doc_id", "hash")
    val probe = Seq((30L, None: Option[Long]), (31L, Some(0L)))
      .toDF("doc_id", "hash")
    // 31 dups standing 0L; 30 (null) matches nothing, not even standing's
    // own null row
    assert(ids(PerceptualDedup.dupIds(probe, standing, 3)) == Set(31L))
  }

  test("the pigeonhole precondition is enforced") {
    val f = Seq((1L, 0L)).toDF("doc_id", "hash")
    intercept[IllegalArgumentException] {
      PerceptualDedup.dupIds(f, f, 4)
    }
  }

  /** Every (doc_a < doc_b, hamming) pair within maxDist, the O(n²) way. */
  private def bruteForcePairs(rows: Seq[(Long, Option[Long])], maxDist: Int)
      : Seq[(Long, Long, Long)] =
    for {
      (a, Some(ha)) <- rows
      (b, Some(hb)) <- rows
      if a < b
      d = java.lang.Long.bitCount(ha ^ hb).toLong
      if d <= maxDist
    } yield (a, b, d)

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "hamming").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("selfPairs equals a brute-force Hamming pass: planted distances 0–4, NULLs, one flip per band") {
    val rnd = new scala.util.Random(20261018L)
    def flips(n: Int): Seq[Int] = rnd.shuffle((0 until 64).toList).take(n)
    val hashes: Seq[Option[Long]] = (0 until 30).flatMap { _ =>
      val base = rnd.nextLong()
      // a family: the base, one partner per distance 0–4, and a row with
      // one flip in each 16-bit band (distance 4, no intact band)
      Seq(Some(base)) ++ (0 to 4).map(d => Some(flip(base, flips(d): _*))) ++
        Seq(Some(flip(base, (0 until 4).map(b => b * 16 + rnd.nextInt(16)): _*)))
    } ++ Seq.fill(6)(None)
    // ids in shuffled order, so a family's members land on both sides of
    // the doc_a < doc_b triangle
    val rows = rnd.shuffle((1L to hashes.size.toLong).toList).zip(hashes)
    val df = rows.toDF("doc_id", "hash")
    for (maxDist <- 0 to 3) {
      val want = bruteForcePairs(rows, maxDist).sorted
      assert(want.exists(_._3 == maxDist), s"no planted pair at $maxDist")
      assert(pairs(PerceptualDedup.selfPairs(df, maxDist)).sorted == want,
        s"maxDist $maxDist")
    }
  }

  test("selfPairs reports a pair once however many bands match; pigeonhole enforced") {
    // distance 0 matches in all 4 bands, distance 1 in 3 — each pair once
    val df = Seq((1L, 42L), (2L, 42L), (3L, flip(42L, 20))).toDF("doc_id", "hash")
    assert(pairs(PerceptualDedup.selfPairs(df, 3)).sorted ==
      Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
    intercept[IllegalArgumentException] {
      PerceptualDedup.selfPairs(df, 4)
    }
  }
}
