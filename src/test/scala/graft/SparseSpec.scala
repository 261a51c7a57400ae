package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparseSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val tf = Sparse.fromTermFreq(Tables.documents(spark, sfDir)).cache()
  def queries(nq: Int) =
    tf.where($"id" < nq).select($"id".as("qid"), $"dim", $"v".as("qv"))

  test("mips scores match a scala-side sparse dot product oracle") {
    val k = 5
    val got = Sparse.mips(queries(3), tf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("score")).toMap
    val docs = tf.as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.map(r => r._2 -> r._3).toMap }
    got.foreach { case ((qid, id), score) =>
      val expected = docs(qid).map { case (t, v) => v * docs(id).getOrElse(t, 0L) }.sum
      assert(score === expected, s"(q=$qid, d=$qid)")
    }
  }

  test("mips self-pair appears with score = sum of squared tf") {
    val got = Sparse.mips(queries(5), tf, 10)
      .where($"qid" === $"id").as[(Long, Long, Long, Long)].collect()
    val selfScores = tf.where($"id" < 5).groupBy($"id")
      .agg(sum($"v" * $"v").as("s")).as[(Long, Long)].collect().toMap
    got.foreach { case (qid, _, score, _) => assert(score === selfScores(qid)) }
  }

  test("sparsify with alpha = 1 is the identity; smaller alpha shrinks rows") {
    assert(Sparse.sparsify(tf, 10, 10).count() === tf.count())
    val sp = Sparse.sparsify(tf, 8, 10)
    assert(sp.count() < tf.count())
    // kept mass per id must reach 80% of total
    val check = sp.groupBy("id").agg(sum("v").as("kept"))
      .join(tf.groupBy("id").agg(sum("v").as("total")), "id")
      .where($"kept" * 10 < $"total" * 8)
    assert(check.count() === 0)
  }

  test("budgetedMips with a huge budget equals exact mips") {
    val exact = Sparse.mips(queries(5), tf, 10)
    val budget = Sparse.budgetedMips(queries(5), tf, 10, m = 1000000)
    assert(exact.exceptAll(budget).count() === 0)
    assert(budget.exceptAll(exact).count() === 0)
  }

  test("truncatePostings keeps at most m rows per dim, highest-v first") {
    val t = Sparse.truncatePostings(tf, 3).cache()
    assert(t.groupBy("dim").count().where($"count" > 3).count() === 0)
    // every kept row's v is >= the max dropped v for that dim (top-m property)
    val dropped = tf.exceptAll(t).groupBy("dim").agg(max("v").as("maxDropped"))
    val minKept = t.groupBy("dim").agg(min("v").as("minKept"))
    assert(minKept.join(dropped, "dim").where($"minKept" < $"maxDropped").count() === 0)
  }

  test("resident postings serving equals the budgetedMips dataflow row-for-row") {
    val (k, m) = (10, 16)
    val served = graft.index.ResidentPostings.load(tf, m, numPartitions = 4)
    try {
      val got = served.probeLocal(queries(20), k)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      val want = Sparse.budgetedMips(queries(20), tf, k, m)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) => assert(g === w) }
    } finally served.unload()
  }

  test("impact-ordered serving at full budget equals exact mips row-for-row") {
    // the linscan shape: FULL inverted file (m = |docs|), budget at the
    // query side; budget >= every shard's posting mass is exact
    val k = 10
    val mFull = Tables.documents(spark, sfDir).count().toInt
    val served = graft.index.ResidentPostings.load(tf, mFull, numPartitions = 4)
    try {
      val got = served.probeLocal(queries(20), k, budget = Long.MaxValue)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      val want = Sparse.mips(queries(20), tf, k)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) => assert(g === w) }
      // maxShardPostings is the exactness threshold by construction
      val full = served.maxShardPostings()
      val atMax = served.probeLocal(queries(20), k, budget = full)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      assert(atMax.toSeq === got.toSeq)
    } finally served.unload()
  }

  test("impact-ordered budget walk spends highest qv*v products first") {
    // hand-built shard: dim a -> postings (id 1, v 9), (id 2, v 1);
    // dim b -> (id 3, v 5). query weights: a=1, b=2 => products are
    // a/id1 = 9, b/id3 = 10, a/id2 = 1. budget 2 must take {b/id3, a/id1}
    // and skip a/id2 — NOT the per-dim walk order (a first).
    val shard = graft.index.PostingShard(Map(
      "a" -> (Array(1L, 2L), Array(9L, 1L)),
      "b" -> (Array(3L), Array(5L))))
    val acc = graft.index.ResidentPostings.accumulate(
      shard, Array("a", "b"), Array(1L, 2L), budget = 2L)
    assert(acc.toMap === Map(1L -> 9L, 3L -> 10L))
    // budget 1 takes only the single largest product (b/id3 = 10)
    val acc1 = graft.index.ResidentPostings.accumulate(
      shard, Array("a", "b"), Array(1L, 2L), budget = 1L)
    assert(acc1.toMap === Map(3L -> 10L))
    // full budget equals the plain walk's sums
    val full = graft.index.ResidentPostings.accumulate(
      shard, Array("a", "b"), Array(1L, 2L), budget = Long.MaxValue)
    assert(full.toMap === Map(1L -> 9L, 2L -> 1L, 3L -> 10L))
  }

  test("two-stage exact rerank at full budget equals the one-stage exact " +
       "walk row-for-row") {
    // r13 kernel: the budgeted walk nominates candidates, the forward index
    // scores them exactly. At budget >= every shard's postings the partial
    // scores are already exact, so the two-stage result must equal the
    // exact walk verbatim — the sweep's top anchor stays recall 1.0 by
    // construction, and the forward index provably holds the same posting
    // universe as the inverted lists.
    val k = 10
    val mFull = Tables.documents(spark, sfDir).count().toInt
    val served = graft.index.ResidentPostings.load(tf, mFull,
      numPartitions = 4, forward = true)
    try {
      val exact = served.probeLocal(queries(20), k)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      for (rr <- Seq(k, 37, 320)) {
        val two = served.probeLocal(queries(20), k, budget = Long.MaxValue,
          rerank = rr)
          .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
        assert(two.toSeq === exact.toSeq, s"rerank=$rr")
      }
      // finite budget: the two-stage rows are deterministic and the exact
      // scores they carry match a scala-side dot product oracle (scores
      // are FULL dots of the candidates, never partial sums)
      val docs = tf.as[(Long, String, Long)].collect()
        .groupBy(_._1).map { case (id, rows) =>
          id -> rows.map(r => r._2 -> r._3).toMap }
      val budgeted = served.probeLocal(queries(5), k, budget = 64L,
        rerank = 320)
        .as[(Long, Long, Long, Long)].collect()
      assert(budgeted.nonEmpty)
      budgeted.foreach { case (qid, id, score, _) =>
        val expected = docs(qid).map { case (t, v) =>
          v * docs(id).getOrElse(t, 0L) }.sum
        assert(score === expected, s"(q=$qid, d=$id) exact-rerank score")
      }
      val again = served.probeLocal(queries(5), k, budget = 64L,
        rerank = 320).as[(Long, Long, Long, Long)].collect()
      assert(again.toSeq === budgeted.toSeq)
    } finally served.unload()
  }

  test("two-stage rerank without a forward index fails loudly") {
    val served = graft.index.ResidentPostings.load(tf, 16, numPartitions = 2)
    try {
      val qs = queries(3)
        .select($"qid".cast("long"), $"dim".cast("string"), $"qv".cast("long"))
        .as[(Long, String, Long)].collect()
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
      def held = org.apache.spark.GraftTestBridge
        .broadcastsOf(spark.sparkContext, qs)
      val before = held
      val e = intercept[org.apache.spark.SparkException] {
        served.probeBatch(qs, 5, budget = 64L, rerank = 32)
      }
      assert(e.getMessage.contains("forward") ||
        String.valueOf(e.getCause).contains("forward"))
      // the failed batch's broadcast is released, not leaked (destroy
      // reaches the block manager asynchronously, hence the wait)
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(20.seconds), interval(100.millis)) {
        assert(held === before, "the failed batch's broadcast leaked")
      }
    } finally served.unload()
  }

  test("striped two-stage postings probe equals the unsliced batch") {
    val mFull = Tables.documents(spark, sfDir).count().toInt
    val served = graft.index.ResidentPostings.load(tf, mFull,
      numPartitions = 4, forward = true)
    try {
      val qs = queries(20)
        .select($"qid".cast("long"), $"dim".cast("string"), $"qv".cast("long"))
        .as[(Long, String, Long)].collect()
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
      for (b <- Seq(64L, Long.MaxValue))
        assert(graft.index.ProbeSlices.striped(qs, 4)(
          st => served.probeBatch(st, k = 10, budget = b, rerank = 320))(
          r => (r._1, r._4)).toSeq ===
          served.probeBatch(qs, k = 10, budget = b, rerank = 320).toSeq,
          s"budget=$b")
    } finally served.unload()
  }

  test("budgeted impact serving is deterministic across repeated probes") {
    val mFull = Tables.documents(spark, sfDir).count().toInt
    val served = graft.index.ResidentPostings.load(tf, mFull, numPartitions = 4)
    try {
      val a = served.probeLocal(queries(10), 10, budget = 32L)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val b = served.probeLocal(queries(10), 10, budget = 32L)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(a === b)
      assert(a.nonEmpty)
    } finally served.unload()
  }

  test("resident postings: shard count does not change results") {
    val (k, m) = (5, 8)
    val one = graft.index.ResidentPostings.load(tf, m, numPartitions = 1)
    val many = graft.index.ResidentPostings.load(tf, m, numPartitions = 7)
    try {
      val a = one.probeLocal(queries(10), k)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      val b = many.probeLocal(queries(10), k)
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
      assert(a.toSeq === b.toSeq)
    } finally { one.unload(); many.unload() }
  }

  test("resident postings match a scala brute-force oracle on random corpora") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 4) {
      val nDocs = 30 + rnd.nextInt(40)
      val dims = Vector.tabulate(12)(i => s"t$i")
      val drawn = for {
        id <- 0 until nDocs
        d <- dims if rnd.nextInt(3) == 0
      } yield (id.toLong, d, 1L + rnd.nextInt(9).toLong)
      // every doc needs at least one posting (so the query side is total)
      val rows = drawn ++ (0 until nDocs)
        .filterNot(i => drawn.exists(_._1 == i.toLong))
        .map(i => (i.toLong, dims(rnd.nextInt(dims.length)), 1L + rnd.nextInt(9).toLong))
      val m = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(8)
      val nq = 5
      // plain-scala oracle: global per-dim truncation by (v desc, id asc),
      // then per-query scores over shared dims, top-k by (score desc, id asc)
      val trunc = rows.groupBy(_._2).values.flatMap(ps =>
        ps.sortBy(p => (-p._3, p._1)).take(m)).toSeq
      val qdocs = rows.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
      val tdocs = trunc.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
      val expected = (0 until nq).flatMap { q =>
        val qv = qdocs(q.toLong)
        tdocs.toSeq.flatMap { case (id, dv) =>
          val common = qv.keySet.intersect(dv.keySet)
          if (common.isEmpty) None
          else Some((id, common.toSeq.map(dk => qv(dk) * dv(dk)).sum))
        }.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((id, s), i) => (q.toLong, id, s, (i + 1).toLong) }
      }
      val served = graft.index.ResidentPostings.load(
        rows.toDF("id", "dim", "v"), m, numPartitions = 3)
      val got = try {
        val qs = (0 until nq).map { q =>
          val qv = qdocs(q.toLong).toSeq.sortBy(_._1)
          (q.toLong, qv.map(_._1).toArray, qv.map(_._2).toArray)
        }.toArray
        served.probeBatch(qs, k)
      } finally served.unload()
      assert(got.toSeq === expected, s"m=$m k=$k nDocs=$nDocs")
    }
  }

  test("resident postings: tree merge equals the driver merge row-for-row") {
    // treeMergeAt = 1 forces the two-level Long-exact fan-in (ProbeMerge)
    val served = graft.index.ResidentPostings.load(tf, 16, numPartitions = 7)
    try {
      val qs = tf.where($"id" < 20)
        .select($"id".cast("long"), $"dim".cast("string"), $"v".cast("long"))
        .as[(Long, String, Long)].collect()
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
      assert(served.probeBatch(qs, 10).toSeq ===
        served.probeBatch(qs, 10, treeMergeAt = 1).toSeq)
    } finally served.unload()
  }

  test("resident postings: query with no surviving dims yields no rows") {
    val served = graft.index.ResidentPostings.load(tf, 4, numPartitions = 2)
    try {
      val got = served.probeBatch(
        Array((99L, Array("no-such-term-xyzzy"), Array(3L))), 5)
      assert(got.isEmpty)
    } finally served.unload()
  }

  test("resident postings reject non-positive query weights loudly") {
    // zero-weight postings are score-0: the budgeted prefix cut drops them
    // while an exact full-budget walk would admit them, so the domains must
    // agree by construction — qv <= 0 fails at entry instead of silently
    // diverging between budgets (ADVICE r11)
    val served = graft.index.ResidentPostings.load(tf, 4, numPartitions = 2)
    try {
      intercept[IllegalArgumentException] {
        served.probeBatch(Array((1L, Array("a"), Array(0L))), 5)
      }
      intercept[IllegalArgumentException] {
        served.probeBatch(Array((1L, Array("a"), Array(-2L))), 5)
      }
    } finally served.unload()
  }

  test("striped postings probe equals the unsliced batch at any budget") {
    val mFull = Tables.documents(spark, sfDir).count().toInt
    val served = graft.index.ResidentPostings.load(tf, mFull, numPartitions = 4)
    try {
      val qs = tf.where($"id" < 20)
        .select($"id".cast("long"), $"dim".cast("string"), $"v".cast("long"))
        .as[(Long, String, Long)].collect()
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
      for (b <- Seq(32L, Long.MaxValue))
        assert(graft.index.ProbeSlices.striped(qs, 4)(
          st => served.probeBatch(st, 10, budget = b))(
          r => (r._1, r._4)).toSeq ===
          served.probeBatch(qs, 10, budget = b).toSeq, s"budget=$b")
    } finally served.unload()
  }
}
