package graft.index

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the serving fan-in merge: both regimes (driver collect
  * below `treeAt`, two-level treeAggregate at/above it) must produce
  * IDENTICAL deduped rows — the contract every resident probeBatch relies
  * on. The duplicate-id case is real: a graph-resident id and its striped
  * delta re-insert land in different partitions and both surface the id
  * with the same distance. */
class ProbeMergeSpec extends AnyFunSuite with SparkSuite {

  private def rows(out: Array[(Long, Long, Double, Long)]) = out.toSeq

  test("duplicate id across partitions dedups on BOTH paths, even when " +
       "total candidates <= k (r5 advice regression)") {
    val sc = spark.sparkContext
    // qid 0: id 7 appears in two partitions with the same distance; only
    // 3 total candidate rows for k = 10 — the early-return regime
    val cand = sc.parallelize(
      Seq((0L, 7L, 1.0), (0L, 3L, 2.0), (0L, 7L, 1.0)), numSlices = 3)
    val driver = ProbeMerge.topK(cand, k = 10, treeAt = 64) // collect path
    val tree = ProbeMerge.topK(cand, k = 10, treeAt = 1)    // tree path
    assert(rows(driver) === Seq((0L, 7L, 1.0, 1L), (0L, 3L, 2.0, 2L)))
    assert(rows(tree) === rows(driver), "regimes must agree")
  }

  test("estRows volume gate forces the tree path below treeAt partitions " +
       "with row-identical output (r9 verdict item 7)") {
    val sc = spark.sparkContext
    // 3 partitions — far below treeAt = 64, so the partition gate alone
    // would collect. A caller-estimated fan-in past maxCollectRows must
    // take the treeAggregate regime anyway, and rows must not change.
    val cand = sc.parallelize(
      Seq((0L, 7L, 1.0), (0L, 3L, 2.0), (1L, 5L, 0.5), (0L, 7L, 1.0)),
      numSlices = 3)
    val collect = ProbeMerge.topK(cand, k = 10)
    val gated = ProbeMerge.topK(cand, k = 10,
      estRows = ProbeMerge.maxCollectRows + 1)
    assert(rows(gated) === rows(collect), "volume-gated regime must agree")
    // bound at exactly the budget stays on the collect path (<= semantics)
    val atBudget = ProbeMerge.topK(cand, k = 10,
      estRows = ProbeMerge.maxCollectRows)
    assert(rows(atBudget) === rows(collect))
    // and the Long-score merge honors the same gate
    val candL = sc.parallelize(
      Seq((0L, 7L, 5L), (0L, 3L, 4L), (1L, 9L, 2L)), numSlices = 3)
    assert(ProbeMerge.topKByScore(candL, k = 10,
        estRows = ProbeMerge.maxCollectRows + 1).toSeq ===
      ProbeMerge.topKByScore(candL, k = 10).toSeq)
  }

  test("score-ranked Long merge dedups identically on both paths") {
    val sc = spark.sparkContext
    val cand = sc.parallelize(
      Seq((0L, 7L, 5L), (0L, 3L, 4L), (0L, 7L, 5L), (1L, 9L, 2L)),
      numSlices = 4)
    val driver = ProbeMerge.topKByScore(cand, k = 10, treeAt = 64)
    val tree = ProbeMerge.topKByScore(cand, k = 10, treeAt = 1)
    assert(driver.toSeq ===
      Seq((0L, 7L, 5L, 1L), (0L, 3L, 4L, 2L), (1L, 9L, 2L, 1L)))
    assert(tree.toSeq === driver.toSeq)
  }

  test("k truncation and (dist asc, id asc) tie order hold on both paths") {
    val sc = spark.sparkContext
    val cand = sc.parallelize(
      (1L to 20L).map(id => (0L, id, if (id <= 4) 1.0 else id.toDouble)),
      numSlices = 5)
    val driver = ProbeMerge.topK(cand, k = 6, treeAt = 64)
    val tree = ProbeMerge.topK(cand, k = 6, treeAt = 1)
    assert(driver.length === 6)
    assert(driver.map(_._2).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(rows(tree) === rows(driver))
  }

  test("TopKBuffer: (dist asc, id asc) selection, ties, refine, short input") {
    val ids = Array(5L, 2L, 9L, 1L, 7L)
    val ds = Array(3.0, 1.0, 1.0, 4.0, 1.0)
    def top(k: Int, n: Int): Seq[(Long, Double)] = {
      val b = new TopKBuffer(k)
      for (i <- 0 until n) b.offer(ds(i), ids(i))
      b.rows(0L).map(r => (r._2, r._3)).toSeq
    }
    // ties on 1.0 order by id asc
    assert(top(3, 5) === Seq((2L, 1.0), (7L, 1.0), (9L, 1.0)))
    assert(top(4, 5) === Seq((2L, 1.0), (7L, 1.0), (9L, 1.0), (5L, 3.0)))
    // k > offered returns everything, fully ranked
    assert(top(10, 2) === Seq((2L, 1.0), (5L, 3.0)))
    assert(top(3, 0).isEmpty)
    // refine re-scores the carried vectors into a fresh k-bounded buffer
    val b = new TopKBuffer(4, carryVecs = true)
    for (i <- 0 until 5) b.offer(ds(i), ids(i), Array(ids(i).toFloat))
    val r = b.refine(2)(v => -v(0).toDouble)
    assert(r.rows(7L).toSeq === Seq((7L, 9L, -9.0), (7L, 7L, -7.0)))
    assert(b.contains(5L) && !b.contains(1L))
  }
}
