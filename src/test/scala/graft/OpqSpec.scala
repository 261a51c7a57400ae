package graft

import graft.index.{Opq, Pq}
import graft.operators.{Knn, Metric, Recall}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpqSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val base: DataFrame = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()
  lazy val queries: DataFrame = Tables.embeddings(spark, sfDir)
    .where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec")).cache()

  private def ids(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("qid").cast("long"), col("id").cast("long"), col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("jacobiEig recovers a known spectrum; rotation rows are orthonormal") {
    // hand-built symmetric matrix with a known decomposition: Q diag(λ) Qᵀ
    // for a Givens-style Q over 4 dims
    val c = math.cos(0.3); val s = math.sin(0.3)
    val q = Array(
      Array(c, -s, 0.0, 0.0),
      Array(s, c, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0, 1.0))
    val lam = Array(9.0, 4.0, 1.0, 0.25)
    val a = Array.tabulate(4, 4) { (i, j) =>
      (0 until 4).map(t => q(i)(t) * lam(t) * q(j)(t)).sum
    }
    val (eigvals, eigvecs) = Opq.jacobiEig(a)
    assert(eigvals.zip(lam).forall { case (g, w) => math.abs(g - w) < 1e-9 },
      s"eigenvalues ${eigvals.mkString(",")}")
    // rows orthonormal
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(t => eigvecs(i)(t) * eigvecs(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"row dot ($i,$j) = $dot")
    }
  }

  test("jacobiEig on random symmetric matrices: reconstruction and orthonormality") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 20) {
      val d = 2 + rnd.nextInt(11)
      val a = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val x = rnd.nextGaussian(); a(i)(j) = x; a(j)(i) = x
      }
      val (eigvals, v) = Opq.jacobiEig(a)
      // descending order
      assert(eigvals.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      // rows orthonormal and A v_i = λ_i v_i (residual small)
      for (i <- 0 until d) {
        var nrm = 0.0
        for (t <- 0 until d) nrm += v(i)(t) * v(i)(t)
        assert(math.abs(nrm - 1.0) < 1e-9)
        for (t <- 0 until d) {
          val av = (0 until d).map(u => a(t)(u) * v(i)(u)).sum
          assert(math.abs(av - eigvals(i) * v(i)(t)) < 1e-7,
            s"d=$d eigenpair $i residual at row $t")
        }
      }
    }
  }

  test("trained rotation is orthonormal and preserves pair distances") {
    val rot = Opq.trainRotation(base, m = 8)
    val d = rot.d
    for (i <- 0 until d; j <- i until d) {
      var acc = 0.0
      var t = 0
      while (t < d) { acc += rot.rows(i)(t).toDouble * rot.rows(j)(t).toDouble; t += 1 }
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(acc - want) < 1e-4, s"RRᵀ($i,$j) = $acc")
    }
    // distance preservation on sample pairs, through the float projection
    val vs = base.orderBy("id").limit(20).select("vec")
      .as[Array[Float]].collect()
    for (i <- vs.indices; j <- i + 1 until vs.length) {
      def l2(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var t = 0
        while (t < a.length) { val x = a(t).toDouble - b(t).toDouble; acc += x * x; t += 1 }
        acc
      }
      val orig = l2(vs(i), vs(j))
      val rotd = l2(rot(vs(i)), rot(vs(j)))
      assert(math.abs(orig - rotd) <= 1e-3 * math.max(orig, 1.0),
        s"pair ($i,$j): $orig vs rotated $rotd")
    }
  }

  test("eigenvalue allocation deals every component once, balanced across subspaces") {
    val eigvals = Array(100.0, 50.0, 25.0, 12.0, 6.0, 3.0, 2.0, 1.0)
    val groups = Opq.allocate(eigvals, m = 4)
    assert(groups.length === 4)
    assert(groups.forall(_.length === 2))
    assert(groups.flatten.sorted === (0 until 8).toArray)
    // greedy balance: the largest component never shares a subspace with
    // the second largest
    val g0 = groups.indexWhere(_.contains(0))
    assert(!groups(g0).contains(1))
  }

  test("rotated ADC with a lossless rotated codebook equals brute force") {
    val (rot, cb) = Opq.trainRotatedLossless(base, m = 4)
    val got = Opq.adcKnnRotated(queries, base, rot, cb, k = 10, rerank = 20)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    assert(ids(got) === ids(truth))
  }

  test("rotated ADC under ip equals brute-force MIPS at the lossless point") {
    // an orthonormal rotation preserves inner products, so the rotated ip
    // LUT ranks identically to exact MIPS when the codebook is lossless
    val (rot, cb) = Opq.trainRotatedLossless(base, m = 4)
    val got = Opq.adcKnnRotated(queries, base, rot, cb, k = 10, rerank = 20,
      metric = Metric.Ip)
    val truth = Knn.knnJoin(queries, base, 10, Metric.Ip)
    assert(ids(got) === ids(truth))
  }

  test("rotated resident ADC equals brute force at the lossless point (original-space distances)") {
    val (rot, cb) = Opq.trainRotatedLossless(base, m = 4)
    val served = graft.index.ResidentCodes.loadAdcRotated(base, rot, cb,
      numPartitions = 4)
    try {
      val got = served.probeLocal(queries, 10, rerank = 20)
      val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
      assert(ids(got) === ids(truth))
      // the reported distances are original-space: bit-equal to the exact kernel
      val gd = got.select(col("qid").cast("long"), col("id").cast("long"), col("dist"))
        .as[(Long, Long, Double)].collect().map { case (q, i, d) => ((q, i), d) }.toMap
      val td = truth.select(col("qid").cast("long"), col("id").cast("long"), col("dist"))
        .as[(Long, Long, Double)].collect().map { case (q, i, d) => ((q, i), d) }.toMap
      assert(gd === td)
    } finally served.unload()
  }

  test("on a cross-subspace-correlated corpus, rotated codes beat raw codes at equal budget") {
    // x(i) = z(i mod 8)·8 + noise: every subspace of the raw layout sees
    // the SAME 8 latent coordinates, so plain PQ re-encodes identical
    // information m times; PCA concentrates the signal into 8 components
    // and the allocator deals them one per subspace — the same (m, ksub)
    // budget then quantizes an effectively 1-D signal per subspace.
    val rnd = new scala.util.Random(42)
    val d = 32
    val rows = (0 until 400).map { id =>
      val z = Array.fill(8)(rnd.nextGaussian())
      val v = Array.tabulate(d)(i => (z(i % 8) * 8.0 + rnd.nextGaussian() * 0.3).toFloat)
      (id.toLong, v)
    }
    val corr = rows.toDF("id", "vec").cache()
    val cq = corr.where(col("id") < 10)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val truth = Knn.knnJoin(cq, corr, 10, Metric.L2)
    val (rot, rcb) = Opq.trainRotated(corr, m = 8, ksub = 16, iters = 3)
    val rGot = Opq.adcKnnRotated(cq, corr, rot, rcb, k = 10, rerank = 20)
    val rawCb = Pq.train(corr, m = 8, ksub = 16, iters = 3)
    val rawGot = Pq.adcKnn(cq, corr, rawCb, k = 10, rerank = 20)
    val rRec = Recall.mean(rGot, truth, 10)
    val rawRec = Recall.mean(rawGot, truth, 10)
    assert(rRec >= rawRec, s"rotated $rRec < raw $rawRec at equal budget")
    assert(rRec >= 0.9, s"rotated recall $rRec")
  }
}
