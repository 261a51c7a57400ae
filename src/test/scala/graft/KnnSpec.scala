package graft

import graft.functions.vectors._
import graft.operators._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KnnSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("vecL2Sq / vecDot match a scala-side brute-force oracle") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 6f, 8f)),
      (Array(0f, 0f, 0f), Array(0f, 0f, 0f)),
      (Array(-1.5f, 2.25f, 0f), Array(1.5f, -2.25f, 3f))
    ).toDF("a", "b")
    val got = df.select(vecL2Sq($"a", $"b"), vecDot($"a", $"b")).collect()
    def l2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val in = df.as[(Array[Float], Array[Float])].collect()
    got.zip(in).foreach { case (Row(gl2: Double, gdot: Double), (a, b)) =>
      assert(gl2 === l2(a, b))
      assert(gdot === dot(a, b))
    }
  }

  test("vecL2SqInt: pure integer accumulation, codegen and interpreted agree") {
    val df = Seq(
      (Array[Short](0, 255, 128), Array[Short](255, 0, 128)),
      (Array[Short](7, 7, 7), Array[Short](7, 7, 7)),
      (Array[Short](-300, 300, 0), Array[Short](300, -300, 1))
    ).toDF("a", "b")
    val got = df.select(vecL2SqInt($"a", $"b")).as[Long].collect()
    def oracle(a: Array[Short], b: Array[Short]) =
      a.zip(b).map { case (x, y) => val d = (x - y).toLong; d * d }.sum
    val in = df.as[(Array[Short], Array[Short])].collect()
    got.zip(in).foreach { case (g, (a, b)) => assert(g === oracle(a, b)) }
    // interpreted path (eval without codegen) must agree
    import graft.functions.VecL2SqInt
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, ShortType}
    in.foreach { case (a, b) =>
      val e = VecL2SqInt(
        Literal(ArrayData.toArrayData(a), ArrayType(ShortType)),
        Literal(ArrayData.toArrayData(b), ArrayType(ShortType)))
      assert(e.eval(null) === oracle(a, b))
    }
  }

  test("aggTopK equals windowTopK on the embeddings table (differential)") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val scored = b.crossJoin(broadcast(q))
      .withColumn("dist", vecL2Sq($"qvec", $"vec"))
    val viaAgg = TopK.aggTopK(scored, "qid", "id", "dist", 10)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaWin = TopK.windowTopK(scored, "qid", "id", "dist", 10)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAgg === viaWin)
    assert(viaAgg.size === 50)
  }

  test("filtered kNN honors the label predicate (every neighbor matches)") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"), $"label".as("qlabel"))
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val res = Knn.filteredKnn(q, b, 10)
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    res.select("qid", "id").as[(Long, Long)].collect().foreach { case (qid, id) =>
      assert(labels(qid) === labels(id), s"neighbor $id of query $qid violates filter")
    }
  }

  test("self is rank 1 for L2 on unit-normalized embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val r1 = Knn.knnJoin(q, b, 10, Metric.L2).where($"rank" === 1)
      .select("qid", "id").as[(Long, Long)].collect()
    r1.foreach { case (qid, id) => assert(qid === id) }
  }

  test("maxSimJoin: handcrafted bag scores; single-vector bags degenerate to MIPS") {
    // two docs of two vectors, one query of two vectors, hand-checkable:
    // doc 0 holds the best match for q-vec 0, doc 1 for q-vec 1
    val base = Seq(
      (0L, 0, Array(1f, 0f)), (0L, 1, Array(0.5f, 0.5f)),
      (1L, 0, Array(0f, 1f)), (1L, 1, Array(0.9f, 0.1f))
    ).toDF("doc_id", "pos", "vec")
    val q = Seq((0L, 0, Array(1f, 0f)), (0L, 1, Array(0f, 1f)))
      .toDF("qid", "pos", "qvec")
    val got = MultiVec.maxSimJoin(q, base, 2)
      .select($"qid", $"doc_id", $"dist", $"rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    // doc 0: max(1.0, 0.5) + max(0.0, 0.5) = 1.5; doc 1: 0.9 + 1.0 = 1.9
    // (expected values go through the same float32 literals the data does)
    assert(got.map(t => (t._2, -t._3)).toSeq ===
      Seq((1L, 0.9f.toDouble + 1.0), (0L, 1.5)))

    // 1-vector bags: maxsim == plain MIPS ranking (score = the single dot)
    val e = Tables.embeddings(spark, sfDir)
    val flat = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val bags = MultiVec.bagged(flat, 1, "doc_id")
    val qbags = MultiVec.bagged(flat.where($"id" < 5), 1, "qid")
      .select($"qid", $"pos", $"vec".as("qvec"))
    val ms = MultiVec.maxSimJoin(qbags, bags, 10)
      .select($"qid", $"doc_id".as("id"), $"rank")
      .as[(Long, Long, Long)].collect().toSet
    val ip = Knn.knnJoin(
      flat.where($"id" < 5).select($"id".as("qid"), $"vec".as("qvec")),
      flat, 10, Metric.Ip)
      .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(ms === ip)
  }

  test("maxSimAnn: exhaustive candidates equal exact maxsim; operating point recalls it") {
    val e = Tables.embeddings(spark, sfDir)
    val flat = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val bags = MultiVec.bagged(flat, 4, "doc_id")
    val qbags = MultiVec.bagged(flat.where($"id" < 8), 2, "qid")
      .select($"qid", $"pos", $"vec".as("qvec"))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"doc_id", $"rank").as[(Long, Long, Long)].collect().toSet
    val exact = MultiVec.maxSimJoin(qbags, bags, 10)
    val n = flat.count().toInt
    assert(rs(MultiVec.maxSimAnn(qbags, bags, 10, c = n, efSearch = 1 << 20))
      === rs(exact))
    // operating point: 32 vector hits per query vector, beam 64
    val approx = MultiVec.maxSimAnn(qbags, bags, 10, c = 32, efSearch = 64)
    val r = Recall.mean(
      approx.withColumnRenamed("doc_id", "id"),
      exact.withColumnRenamed("doc_id", "id"), 10)
    assert(r >= 0.9, s"ANN maxsim recall $r")
  }

  test("maxSimFromHits: exhaustive hits equal exact maxsim; serving point recalls it") {
    val e = Tables.embeddings(spark, sfDir)
    val flat = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val bags = MultiVec.bagged(flat, 4, "doc_id")
    val qbags = MultiVec.bagged(flat.where($"id" < 8), 2, "qid")
      .select($"qid", $"pos", $"vec".as("qvec"))
    val exact = MultiVec.maxSimJoin(qbags, bags, 10)
      .select($"qid", $"doc_id", $"rank").as[(Long, Long, Long)].collect().toSet
    val path = java.nio.file.Files.createTempDirectory("graft-msh")
      .resolve("idx").toString
    graft.index.HnswKnn.buildAndSave(flat, path, numPartitions = 4, metric = "ip")
    val resident = graft.index.HnswKnn.loadResident(spark, path)
    try {
      val qs = qbags.select(($"qid" * 2 + $"pos").cast("long"), $"qvec")
        .as[(Long, Array[Float])].collect()
      // exhaustive: every vector a hit → scores are the true maxsim
      val n = flat.count().toInt
      val full = MultiVec.maxSimFromHits(
        resident.probeBatch(qs, k = n, efSearch = 1 << 20), 2, 4, 10)
        .map(t => (t._1, t._2, t._4)).toSet
      assert(full === exact)
      // serving operating point: hits-only scores recall the truth within
      // the approximation's honest envelope. This 125-doc fixture is the
      // shortcut's worst case — c=64 hits per query vector cover half the
      // corpus, so docs hit by only one query vector carry half scores
      // (real corpora cluster; the relevant doc is hit by every query
      // vector). The trade must be real and monotone in c.
      val truthDf = MultiVec.maxSimJoin(qbags, bags, 10)
        .withColumnRenamed("doc_id", "id")
      def recallAt(c: Int): Double = {
        val served = MultiVec.maxSimFromHits(
          resident.probeBatch(qs, k = c, efSearch = 128), 2, 4, 10)
        Recall.mean(spark.createDataFrame(served.toSeq)
          .toDF("qid", "id", "dist", "rank"), truthDf, 10)
      }
      val (lo, hi) = (recallAt(48), recallAt(96))
      assert(hi >= lo, s"recall must not decrease with c: $lo -> $hi")
      assert(hi >= 0.9, s"hits-only maxsim recall at c=96: $hi")
      assert(recallAt(64) >= 0.8, s"c=64 recall ${recallAt(64)}")
    } finally resident.unload()
  }

  test("MaxSimServe: driver and distributed regimes produce identical rows; " +
       "maxSimAnn reuses a prebuilt resident index") {
    val e = Tables.embeddings(spark, sfDir)
    val flat = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val bags = MultiVec.bagged(flat, 4, "doc_id")
    val qbags = MultiVec.bagged(flat.where($"id" < 8), 2, "qid")
      .select($"qid", $"pos", $"vec".as("qvec"))
    val resident = graft.index.HnswKnn.buildResident(flat,
      numPartitions = 4, metric = "ip")
    try {
      val qs = qbags.select(($"qid" * 2 + $"pos").cast("long"), $"qvec")
        .as[(Long, Array[Float])].collect()
      // regime parity: same batch, same knobs, only treeAt flips the path
      val driver = graft.index.MaxSimServe.probeBatch(
        resident, qs, qmax = 2, bmax = 4, k = 10, c = 64, efSearch = 32,
        treeAt = 64)
      val tree = graft.index.MaxSimServe.probeBatch(
        resident, qs, qmax = 2, bmax = 4, k = 10, c = 64, efSearch = 32,
        treeAt = 1)
      assert(driver.nonEmpty)
      assert(tree.toSeq === driver.toSeq,
        "distributed maxsim reduce must equal the driver regime row-for-row")
      // r7: the CANDIDATE-VOLUME trigger (the corpus-relative c knob at 10×
      // rows floods a driver-side reduce long before the partition count
      // does) must select the same distributed dataflow — identical rows
      val vol = graft.index.MaxSimServe.probeBatch(
        resident, qs, qmax = 2, bmax = 4, k = 10, c = 64, efSearch = 32,
        treeAt = 64, maxDriverHits = 1)
      assert(vol.toSeq === driver.toSeq,
        "volume-triggered distributed regime must equal the driver regime")
      // prebuilt reuse: the ANN composition on a caller-owned index equals
      // the build-per-call form at the exact-degenerate point
      val n = flat.count().toInt
      def rs(df: org.apache.spark.sql.DataFrame) =
        df.select($"qid", $"doc_id", $"rank")
          .as[(Long, Long, Long)].collect().toSet
      val exact = rs(MultiVec.maxSimJoin(qbags, bags, 10))
      val reused = rs(MultiVec.maxSimAnn(qbags, bags, 10, c = n,
        efSearch = 1 << 20, prebuilt = Some(resident), bagDims = Some((2, 4))))
      assert(reused === exact)
      // group-keyed striping (the bench's serving shape): stripes split on
      // the DOC-query id so a query's composite vectors stay together —
      // the merged rows equal the unsliced batch exactly
      val striped = graft.index.ProbeSlices.stripedBy(qs, 3)(_._1 / 2)(
        st => graft.index.MaxSimServe.probeBatch(
          resident, st, qmax = 2, bmax = 4, k = 10, c = 64, efSearch = 32))(
        r => (r._1, r._4))
      assert(striped.toSeq === driver.toSeq,
        "group-striped maxsim must equal the unsliced batch row-for-row")
    } finally resident.unload()
  }

  test("MaxSimServe.probeBatchRouted: full fan-out degenerates to the flat " +
       "hits reduce; group-striped routed batch equals the unsliced one") {
    // r13 token-IVF backend: the routed candidate pass feeds the SAME
    // maxSimFromHits reduce, so at nprobe = C with an exhaustive beam the
    // candidate pool is the whole corpus and the rows must equal the flat
    // resident form at equal c — the degenerate anchor of the bench sweep.
    val e = Tables.embeddings(spark, sfDir)
    val flat = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val qbags = MultiVec.bagged(flat.where($"id" < 8), 2, "qid")
      .select($"qid", $"pos", $"vec".as("qvec"))
    val qs = qbags.select(($"qid" * 2 + $"pos").cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    val n = flat.count().toInt
    val path = java.nio.file.Files.createTempDirectory("graft-maxsim-rt")
      .resolve("idx").toString
    graft.index.HnswRouted.buildAndSave(flat, path, c = 6, kmIters = 2,
      metric = "ip")
    val routed = graft.index.HnswRouted.loadResident(spark, path)
    val resident = graft.index.HnswKnn.buildResident(flat,
      numPartitions = 4, metric = "ip")
    try {
      val viaFlat = graft.index.MaxSimServe.probeBatch(
        resident, qs, qmax = 2, bmax = 4, k = 10, c = n,
        efSearch = 1 << 20)
      val viaRouted = graft.index.MaxSimServe.probeBatchRouted(
        routed, qs, qmax = 2, bmax = 4, k = 10, c = n,
        efSearch = 1 << 20, nprobe = 6)
      assert(viaRouted.nonEmpty)
      assert(viaRouted.toSeq === viaFlat.toSeq,
        "full-fan-out routed maxsim must equal the flat form at equal c")
      // group-keyed striping parity on a PRUNED routing (the bench's
      // serving shape at real operating points)
      val pruned = graft.index.MaxSimServe.probeBatchRouted(
        routed, qs, qmax = 2, bmax = 4, k = 10, c = 32, efSearch = 32,
        nprobe = 2)
      val striped = graft.index.ProbeSlices.stripedBy(qs, 3)(_._1 / 2)(
        st => graft.index.MaxSimServe.probeBatchRouted(
          routed, st, qmax = 2, bmax = 4, k = 10, c = 32, efSearch = 32,
          nprobe = 2))(r => (r._1, r._4))
      assert(striped.toSeq === pruned.toSeq,
        "group-striped routed maxsim must equal the unsliced batch")
    } finally {
      routed.unload()
      resident.unload()
    }
  }

  test("hamming: packed popcount kernel equals naive sign-mismatch; resident form matches brute rows") {
    import graft.functions.vectors._
    val e = Tables.embeddings(spark, sfDir)
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // every (query, base) pair: the packed XOR+popcount kernel must equal
    // the naive per-coordinate sign-mismatch count
    val mism = b.crossJoin(q).select(
      aggregate(
        zip_with($"qvec", $"vec",
          (x, y) => ((x > lit(0.0f)) =!= (y > lit(0.0f))).cast("long")),
        lit(0L), (acc, v) => acc + v).as("naive"),
      vecHamming(vecSignPack($"qvec"), vecSignPack($"vec")).as("packed"))
    assert(mism.where($"naive" =!= $"packed").count() === 0L)
    val brute = Knn.knnHamming(q, b, 10)
      .select($"qid", $"id", $"dist".cast("double"), $"rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val served = graft.index.ResidentCodes.loadHamming(b, numPartitions = 3)
    try {
      val got = served.probeLocalCodes(q, 10)
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      assert(got.toSeq === brute.toSeq)
    } finally served.unload()
  }

  test("knnHammingRerank: c=N degenerates to exact L2; fidelity monotone in c") {
    val e = Tables.embeddings(spark, sfDir)
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.where($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val n = b.count().toInt
    val truth = Knn.knnJoin(q, b, 10, Metric.L2)
    val exact = Knn.knnHammingRerank(q, b, k = 10, c = n)
      .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(exact === truth.select($"qid", $"id", $"rank")
      .as[(Long, Long, Long)].collect().toSet,
      "all-candidates re-rank must equal exact float kNN")
    def fid(c: Int): Double =
      Recall.mean(Knn.knnHammingRerank(q, b, 10, c), truth, 10)
    val (lo, hi) = (fid(30), fid(120))
    assert(hi >= lo, s"fidelity must not decrease with c: $lo -> $hi")
    assert(hi >= 0.6, s"binary-tier fidelity at c=120: $hi")
    // resident two-tier: per-shard top-c unions are a SUPERSET of the
    // global top-c candidates, so served fidelity dominates the dataflow's
    // at equal c; at c = ∞ (clamped per shard) the result is exact L2
    val served = graft.index.ResidentCodes.loadHamming(b, numPartitions = 3,
      pinFloats = true)
    val ipLoad = graft.index.ResidentCodes.loadHamming(b, numPartitions = 3,
      pinFloats = true, metric = Metric.Ip)
    try {
      val sFid = Recall.mean(served.probeLocal(q, 10, rerank = 30), truth, 10)
      assert(sFid >= lo - 1e-9, s"served fidelity $sFid < dataflow $lo at c=30")
      val exactServed = served.probeLocal(q, 10, rerank = Int.MaxValue)
        .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
      assert(exactServed === truth.select($"qid", $"id", $"rank")
        .as[(Long, Long, Long)].collect().toSet)
      // ip refine: at c = ∞ the two-tier probe degenerates to exact MIPS —
      // the OOD-track metric the reference's binary tier actually serves
      val ipTruth = Knn.knnJoin(q, b, 10, Metric.Ip)
        .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
      val ipServed = ipLoad.probeLocal(q, 10, rerank = Int.MaxValue)
        .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
      assert(ipServed === ipTruth,
        "ip refine at c = infinity must equal exact MIPS")
    } finally { served.unload(); ipLoad.unload() }
  }

  test("BinaryIvf: total assignment, nprobe=C exact, recall monotone in nprobe") {
    val e = Tables.embeddings(spark, sfDir)
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.where($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val model = graft.index.BinaryIvf.build(b, c = 8, iters = 3)
    try {
    assert(model.coded.count() === b.count(), "every row assigned")
    assert(model.coded.select($"cid").distinct().count() <= 8)
    val truth = Knn.knnHamming(q, b, 10)
    val full = graft.index.BinaryIvf.probe(model, q, 10, nprobe = 8)
      .select($"qid", $"id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(full === truth.select($"qid", $"id", $"rank")
      .as[(Long, Long, Long)].collect().toSet,
      "nprobe = C must equal brute Hamming")
    def rec(np: Int): Double =
      Recall.mean(graft.index.BinaryIvf.probe(model, q, 10, np), truth, 10)
    val (r1, r4) = (rec(1), rec(4))
    assert(r4 >= r1, s"recall must not decrease with nprobe: $r1 -> $r4")
    assert(r1 > 0.0)
    } finally model.unload()
  }

  test("knnHammingMih: pigeonhole-complete at radius 3 across chunk-spanning flips") {
    val e = Tables.embeddings(spark, sfDir)
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    // queries = base rows with sign flips in THREE different 16-bit chunks
    // (dims 0, 21, 43) — the worst admissible case for 4 chunks: one
    // substring is still intact, so pigeonhole guarantees candidacy
    val q = e.where($"vec_id" < 10).select($"vec_id".as("qid"),
      transform($"embedding", (v, i) =>
        when(i === 0 || i === 21 || i === 43, -v).otherwise(v)).as("qvec"))
    val res = Knn.knnHammingMih(q, b, 10)
    val hits = res.where($"id" === $"qid" && $"dist" <= 3).count()
    assert(hits === 10L, "every flipped source must surface within radius 3")
    // range form: the bucket-join answer must equal the ALL-PAIRS range
    // answer — pigeonhole completeness, checked against an implementation
    // that shares no candidate rule
    import graft.functions.vectors._
    val got = Knn.hammingRange(q, b, radius = 3)
      .select($"qid", $"id", $"dist".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val brute = b.crossJoin(q).select($"qid", $"id",
        vecHamming(vecSignPack($"qvec"), vecSignPack($"vec")).as("dist"))
      .where($"dist" <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty && got.size >= 10)
  }

  test("rangeJoin: exactly the full-ranking rows within the radius, ranks preserved") {
    val e = Tables.embeddings(spark, sfDir)
    val b = e.select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val radius = 1.6
    val got = Knn.rangeJoin(q, b, radius)
      .select($"qid".cast("long"), $"id".cast("long"), $"rank".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // semantic reference: rank the WHOLE corpus per query, keep the prefix
    // inside the radius — in-range rows are exactly a rank prefix
    val n = b.count().toInt
    val full = Knn.knnJoin(q, b, n)
    val want = full.where($"dist" <= radius)
      .select($"qid".cast("long"), $"id".cast("long"), $"rank".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty, "radius too small for the fixture")
    // every query's own vector is in range at distance 0, rank 1
    assert((0L until 5L).forall(qid => got.contains((qid, qid, 1L))))
  }
}
