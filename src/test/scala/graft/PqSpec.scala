package graft

import graft.index.{IvfIndex, IvfPq, Pq}
import graft.operators.{Knn, Metric, Recall}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val base: DataFrame = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()
  lazy val queries: DataFrame = Tables.embeddings(spark, sfDir)
    .where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec")).cache()

  private def ids(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("qid").cast("long"), col("id").cast("long"), col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("lossless codebook reconstructs every vector exactly") {
    val cb = Pq.trainLossless(base, m = 4)
    val books = cb.books
    val dsub = cb.dsub
    val decode = udf { (codes: Seq[Short]) =>
      codes.toArray.zipWithIndex.flatMap { case (c, j) => books(j)(c.toInt) }
    }
    val bad = Pq.encode(base, cb)
      .withColumn("rec", decode(col("codes")))
      .where(expr("exists(zip_with(vec, rec, (a, b) -> a <> b), x -> x)"))
      .count()
    assert(bad === 0)
  }

  test("ADC with a lossless codebook equals exact brute-force kNN (L2)") {
    val cb = Pq.trainLossless(base, m = 4)
    val got = Pq.adcKnn(queries, base, cb, k = 10, rerank = 20)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    assert(ids(got) === ids(truth))
  }

  test("ADC with a lossless codebook equals exact brute-force kNN (ip/MIPS)") {
    val cb = Pq.trainLossless(base, m = 4)
    val got = Pq.adcKnn(queries, base, cb, k = 10, rerank = 20, metric = Metric.Ip)
    val truth = Knn.knnJoin(queries, base, 10, Metric.Ip)
    assert(ids(got) === ids(truth))
  }

  test("trained PQ (m=8, ksub=32) with exact re-rank clears recall 0.9") {
    val cb = Pq.train(base, m = 8, ksub = 32, iters = 3)
    val got = Pq.adcKnn(queries, base, cb, k = 10, rerank = 100)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.9, s"recall $r below 0.9")
  }

  test("IVF-PQ at nprobe=C with lossless codebook and rerank=n is exact") {
    val n = base.count().toInt
    val ivf = IvfIndex.build(base, c = 8, iters = 2)
    val cb = Pq.trainLossless(base, m = 4)
    val got = IvfPq.knnWith(ivf, cb, queries, base, k = 10, nprobe = 8, rerank = n)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    assert(ids(got) === ids(truth))
  }

  test("IVF-PQ at a real operating point clears recall 0.85") {
    val got = IvfPq.knn(queries, base, k = 10, c = 8, iters = 3,
      nprobe = 6, m = 8, ksub = 32, rerank = 100)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.85, s"recall $r below 0.85")
  }

  test("save → load round-trips the codebook and codes; persisted probe is exact") {
    val cb = Pq.trainLossless(base, m = 4)
    val path = java.nio.file.Files.createTempDirectory("graft-pq-spec")
      .resolve("idx").toString
    Pq.save(base, cb, path)
    val (cb2, codes2) = Pq.load(spark, path)
    assert(cb2.dsub === cb.dsub)
    assert(cb2.books.map(_.length).toSeq === cb.books.map(_.length).toSeq)
    assert(cb2.books.flatten.flatten.toSeq === cb.books.flatten.flatten.toSeq)
    val got = Pq.adcKnnCodes(queries, codes2, base, cb2, k = 10, rerank = 20)
    assert(ids(got) === ids(Knn.knnJoin(queries, base, 10, Metric.L2)))
  }

  test("VectorIndex registry dispatches the pq kind; loaded probe matches built") {
    val idx = graft.index.VectorIndex.pq(base, m = 8, ksub = 32, iters = 2,
      rerank = 100)
    val path = java.nio.file.Files.createTempDirectory("graft-pq-vi")
      .resolve("idx").toString
    idx.save(path)
    val loaded = graft.index.VectorIndex.load(spark, path, rerank = 100)
    assert(ids(loaded.probe(queries, 10)) === ids(idx.probe(queries, 10)))
  }

  test("residual IVF-PQ at nprobe=C with lossless residual codebook is exact") {
    val n = base.count().toInt
    val got = IvfPq.knnResidual(queries, base, k = 10, c = 8, iters = 2,
      nprobe = 8, m = 4, ksub = 0, rerank = n, lossless = true)
    assert(ids(got) === ids(Knn.knnJoin(queries, base, 10, Metric.L2)))
  }

  test("residual IVF-PQ persists: save → registry load → exhaustive probe is exact") {
    val n = base.count().toInt
    val idx = IvfPq.buildResidual(base, c = 8, iters = 2, m = 4, ksub = 0,
      lossless = true)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-vi")
      .resolve("idx").toString
    new graft.index.IvfPqVectorIndex(idx, base, nprobe = 8, rerank = n).save(path)
    val loaded = graft.index.VectorIndex.load(spark, path, nprobe = 8, rerank = n)
    assert(ids(loaded.probe(queries, 10)) ===
      ids(Knn.knnJoin(queries, base, 10, Metric.L2)))
  }

  test("residual IVF-PQ at a real operating point clears recall 0.85") {
    val got = IvfPq.knnResidual(queries, base, k = 10, c = 8, iters = 3,
      nprobe = 6, m = 8, ksub = 32, rerank = 100)
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.85, s"recall $r below 0.85")
  }

  test("resident ADC serving: exact at the lossless point, recall >= dataflow when lossy") {
    // lossless: the served batch must equal brute force rank-for-rank
    val cbL = Pq.trainLossless(base, m = 4)
    val servedL = graft.index.ResidentCodes.loadAdc(base, cbL, numPartitions = 4)
    try {
      val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
      assert(ids(servedL.probeLocal(queries, 10, rerank = 20)) === ids(truth))
      // tree-merge parity on the serving fan-in
      val qs = queries.select(col("qid").cast("long"), col("qvec"))
        .as[(Long, Array[Float])].collect()
      assert(servedL.probeBatch(qs, 10, rerank = 20).toSeq ===
        servedL.probeBatch(qs, 10, rerank = 20, treeMergeAt = 1).toSeq)
    } finally servedL.unload()
    // trained (lossy): per-shard rerank buffers union to a SUPERSET of the
    // dataflow's global rerank set, so serving recall >= the dataflow's
    val cb = Pq.train(base, m = 8, ksub = 32, iters = 3)
    val served = graft.index.ResidentCodes.loadAdc(base, cb, numPartitions = 4)
    try {
      val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
      val flowR = Recall.mean(
        Pq.adcKnnCodes(queries, Pq.encode(base, cb).select("id", "codes"),
          base, cb, 10, rerank = 40), truth, 10)
      val servedR = Recall.mean(served.probeLocal(queries, 10, rerank = 40),
        truth, 10)
      assert(servedR >= flowR, s"served $servedR < dataflow $flowR")
      assert(servedR >= 0.9, s"served recall $servedR")
    } finally served.unload()
  }

  test("routed resident ADC: exact at nprobe=C lossless; recall monotone in nprobe") {
    val ivf = IvfIndex.build(base, c = 8, iters = 3)
    val cbL = Pq.trainLossless(base, m = 4)
    val served = graft.index.ResidentCodes.loadIvfAdc(base, ivf, cbL, numPartitions = 4)
    try {
      val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
      // degenerate point: every cluster scanned, codes lossless → exact
      assert(ids(served.probeLocal(queries, 10, served.numClusters, 20)) ===
        ids(truth))
      // tree-merge parity on the routed fan-in
      val qs = queries.select(col("qid").cast("long"), col("qvec"))
        .as[(Long, Array[Float])].collect()
      assert(served.probeBatch(qs, 10, served.numClusters, 20).toSeq ===
        served.probeBatch(qs, 10, served.numClusters, 20, treeMergeAt = 1).toSeq)
      // partial routing prunes scan volume at bounded recall cost, and
      // recall is monotone in nprobe (more clusters ⇒ superset candidates)
      val r2 = Recall.mean(served.probeLocal(queries, 10, 2, 20), truth, 10)
      val r4 = Recall.mean(served.probeLocal(queries, 10, 4, 20), truth, 10)
      val r8 = Recall.mean(served.probeLocal(queries, 10, 8, 20), truth, 10)
      assert(r2 <= r4 + 1e-9 && r4 <= r8 + 1e-9, s"recall not monotone: $r2 $r4 $r8")
      assert(r8 === 1.0)
      assert(r4 >= 0.5, s"nprobe=4 recall $r4")
    } finally served.unload()
  }

  test("residual resident ADC: exact at nprobe=C lossless; lossy residual codes beat raw codes at equal budget") {
    val truth = Knn.knnJoin(queries, base, 10, Metric.L2)
    // lossless residual codebook + full routing: the per-(query, cluster)
    // residual LUTs must reproduce brute force rank-for-rank
    val idxL = IvfPq.buildResidual(base, c = 8, iters = 3, m = 4, ksub = 0,
      lossless = true)
    val servedL = graft.index.ResidentCodes.loadIvfResidual(base, idxL,
      numPartitions = 4)
    try assert(ids(servedL.probeLocal(queries, 10, servedL.numClusters, 20)) ===
      ids(truth))
    finally servedL.unload()
    // trained codes at a tight budget: residuals concentrate near zero, so
    // residual codes carry more information than raw-vector codes from the
    // same (m, ksub) — serving recall must reflect that ordering
    val idx = IvfPq.buildResidual(base, c = 8, iters = 3, m = 4, ksub = 16)
    val served = graft.index.ResidentCodes.loadIvfResidual(base, idx,
      numPartitions = 4)
    val cbRaw = Pq.train(base, m = 4, ksub = 16, iters = 3)
    val servedRaw = graft.index.ResidentCodes.loadIvfAdc(base, idx.ivf, cbRaw,
      numPartitions = 4)
    try {
      val rRes = Recall.mean(
        served.probeLocal(queries, 10, served.numClusters, rerank = 20),
        truth, 10)
      val rRaw = Recall.mean(
        servedRaw.probeLocal(queries, 10, served.numClusters, rerank = 20),
        truth, 10)
      assert(rRes >= rRaw, s"residual $rRes < raw $rRaw at equal budget")
      // 0.9 → 0.8: recalibrated with the r10 seeding change — under
      // lowest-id seeding the c = 8 seeds contained 8 of the 10 suite
      // queries, whose residuals were then unusually small; the unbiased
      // hash-seeded build reads 0.85 on this 500-row corpus
      assert(rRes >= 0.8, s"residual served recall $rRes")
    } finally { served.unload(); servedRaw.unload() }
  }

  test("ADC invariant: distance equals exact distance to the PQ reconstruction") {
    // the property that DEFINES ADC: for any query and any coded row,
    // gathering the LUT by the row's codes must equal the true distance
    // between the query and the row's decoded (reconstructed) vector —
    // under both metrics, on random data (seeded), ragged books included
    val rnd = new scala.util.Random(42)
    val dim = 16
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 4f - 2f)))
    val rdf = rows.toDF("id", "vec")
    val cb = Pq.train(rdf, m = 4, ksub = 8, iters = 2)
    val books = cb.books
    val dsub = cb.dsub
    val decode = udf { (codes: Seq[Short]) =>
      codes.toArray.zipWithIndex.flatMap { case (c, j) => books(j)(c.toInt) }
    }
    val coded = Pq.encode(rdf, cb).withColumn("rec", decode(col("codes")))
    val qs = Seq.tabulate(5)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 4f - 2f))).toDF("qid", "qvec")
    for (metric <- Seq(Metric.L2, Metric.Ip)) {
      val q = qs.withColumn("lut", Pq.lutCol(col("qvec"), cb, metric))
      val both = coded.crossJoin(q)
        .withColumn("adc", graft.functions.vectors.pqAdcDist(col("lut"), col("codes"), cb.stride))
        .withColumn("truth", graft.operators.Metric.distColumn(metric, col("qvec"), col("rec")))
      val worst = both.agg(max(abs(col("adc") - col("truth")))).head().getDouble(0)
      assert(worst < 1e-9, s"ADC deviates from reconstruction distance under $metric: $worst")
    }
  }

  test("codes stay within each subspace's book and stride bounds") {
    val cb = Pq.train(base, m = 8, ksub = 16, iters = 1)
    val sizes = cb.books.map(_.length)
    val maxPerSub = udf { (codes: Seq[Short]) =>
      codes.toArray.zipWithIndex.forall { case (c, j) => c >= 0 && c < sizes(j) }
    }
    val bad = Pq.encode(base, cb).where(!maxPerSub(col("codes"))).count()
    assert(bad === 0)
    assert(cb.stride === sizes.max)
  }
}
