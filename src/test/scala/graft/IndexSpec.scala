package graft

import graft.index._
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()
  lazy val base = emb.select($"vec_id".as("id"), $"embedding".as("vec")).cache()
  lazy val queries = emb.where($"vec_id" < 10)
    .select($"vec_id".as("qid"), $"embedding".as("qvec")).cache()
  lazy val truth = Knn.knnJoin(queries, base, 10, Metric.L2).cache()

  test("IVF probed exhaustively equals brute force exactly") {
    val idx = IvfIndex.build(base, c = 8, iters = 3)
    val got = idx.probe(queries, base, k = 10, nprobe = 8)
    assert(Recall.mean(got, truth, 10) === 1.0)
    // rank-for-rank identical, not just same set
    val g = got.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(g === t)
  }

  test("IVF save/load round-trip probes identically to the in-memory index") {
    val idx = IvfIndex.build(base, c = 8, iters = 3)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").resolve("idx").toString
    IvfIndex.save(idx, path)
    val loaded = IvfIndex.load(spark, path)
    def rs(i: IvfIndex) = i.probe(queries, base, 10, nprobe = 8)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(loaded) === rs(idx))
    // the persisted assignment must be cluster-partitioned on disk
    val dirs = new java.io.File(s"$path/assigned").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("cid=")), s"expected cid= partitions, got ${dirs.toSeq}")
  }

  test("IVF partial probe trades recall for scan volume but stays useful") {
    val idx = IvfIndex.build(base, c = 8, iters = 3)
    val r2 = Recall.mean(idx.probe(queries, base, 10, nprobe = 2), truth, 10)
    val r4 = Recall.mean(idx.probe(queries, base, 10, nprobe = 4), truth, 10)
    assert(r2 > 0.3, s"nprobe=2 recall $r2")
    assert(r4 >= r2, s"recall must not decrease with nprobe: $r2 -> $r4")
  }

  test("SQ8: codes bounded to [0,255], quantized+rerank recall is high") {
    val (mins, spans) = Sq8.train(base)
    val codes = base.withColumn("codes", Sq8.encodeCol($"vec", mins, spans))
    val bounds = codes.select(
      min(array_min($"codes")), max(array_max($"codes"))).head()
    assert(bounds.getShort(0) >= 0 && bounds.getShort(1) <= 255)
    val got = Sq8.knnSq8(queries, base, k = 10, rerank = 40, mins, spans)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.9, s"sq8+rerank recall $r")
    // rerank = full corpus degenerates to exact brute force
    val full = Sq8.knnSq8(queries, base, 10, base.count().toInt, mins, spans)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full === t)
  }

  test("graph-routed assignment: efRoute >= C degenerates to the exact argmin") {
    val cents = KMeans.fit(base, 8, 2)
    val exact = KMeans.assignCarry(base, cents)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    val graph = KMeans.assignCarryGraph(base, cents, efRoute = 64)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(graph === exact)
  }

  test("graph-routed assignment at a narrow beam agrees with the exact argmin") {
    // C=64 over 500 rows with efRoute=8 exercises the genuinely-approximate
    // beam; near-tied rows may land in an adjacent cluster, but the beam
    // must find the true nearest centroid for almost every row
    val cents = KMeans.fit(base, 64, 1)
    val exact = KMeans.assignCarry(base, cents)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    val graph = KMeans.assignCarryGraph(base, cents, efRoute = 8)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(graph.keySet === exact.keySet)
    val agree = exact.count { case (id, cid) => graph(id) == cid }
    assert(agree >= (exact.size * 0.9).toInt,
      s"graph assignment agreement $agree/${exact.size}")
  }

  test("buildAtScale below its thresholds probes identically to build") {
    val a = IvfIndex.build(base, c = 8, iters = 3)
    val b = IvfIndex.buildAtScale(base, c = 8, iters = 3, n = base.count())
    def rs(i: IvfIndex) = i.probe(queries, base, 10, nprobe = 8)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(b) === rs(a))
  }

  test("KMeans assigns every row to exactly one of C clusters") {
    val cents = KMeans.fit(base, 8, 2)
    assert(cents.count() === 8)
    val assigned = KMeans.assign(base, cents)
    assert(assigned.count() === base.count())
    assert(assigned.select("id").distinct().count() === base.count())
  }

  test("cluster histogram: exclusive prefix offsets across many range partitions") {
    // enough distinct cids that the C-row histogram spans several range
    // partitions — exercises the cross-partition leg of the two-pass
    // prefix sum (a single-partition run would pass with running=0 alone)
    val assigned = spark.range(0, 5000).toDF("id")
      .withColumn("cid", pmod(col("id") * 37 % 997, lit(997)))
    val got = ClusterHistogram.histogram(assigned)
      .select("cid", "cnt", "offset").as[(Long, Long, Long)].collect()
    assert(got.map(_._1).distinct.length === got.length)
    val byCid = got.sortBy(_._1)
    var running = 0L
    byCid.foreach { case (cid, cnt, offset) =>
      assert(offset === running, s"cid=$cid offset")
      running += cnt
    }
    assert(running === 5000L)
    // counts match a plain groupBy
    val expect = assigned.groupBy("cid").count()
      .as[(Long, Long)].collect().toMap
    byCid.foreach { case (cid, cnt, _) => assert(cnt === expect(cid)) }
  }

  test("k-means++ seeding is deterministic and escapes id-correlated layout") {
    // 4 tight, well-separated clusters laid out cluster-major in id order —
    // exactly the ClusterPermute output shape where lowest-id seeding puts
    // ALL seeds inside cluster 0. k-means++ must spread across clusters,
    // and two runs must return byte-identical seed sets (hash-seeded, no
    // RNG state).
    val pts = (0 until 200).map { i =>
      val cl = i / 50
      val vec = Array.tabulate(8)(j =>
        (if (j == cl * 2) 10f else 0f) + (i % 50) * 0.001f)
      (i.toLong, vec)
    }
    val df = pts.toDF("id", "vec")
    val s1 = KMeans.seedPlusPlus(df, 4)
      .select("cid").as[Long].collect().sorted.toSeq
    val s2 = KMeans.seedPlusPlus(df, 4)
      .select("cid").as[Long].collect().sorted.toSeq
    assert(s1 === s2, "seeding must be deterministic across runs")
    val clustersHit = s1.map(_ / 50).distinct.length
    assert(clustersHit === 4,
      s"++ seeds must land one per separated cluster, hit $clustersHit of 4 ($s1)")
    // the hash-uniform DEFAULT: deterministic, and spread across the
    // id-correlated layout (∝ data, so ≥2 of 4 equal clusters must be
    // hit — the lowest-id pathology of all-4-in-cluster-0 cannot recur)
    val h1 = KMeans.seedHashUniform(df, 4)
      .select("cid").as[Long].collect().sorted.toSeq
    val h2 = KMeans.seedHashUniform(df, 4)
      .select("cid").as[Long].collect().sorted.toSeq
    assert(h1 === h2, "hash-uniform seeding must be deterministic")
    assert(h1.map(_ / 50).distinct.length >= 2, s"hash seeds clumped: $h1")
    // lowest-id seeding demonstrably does NOT spread (the bias removed)
    val low = KMeans.fit(df, 4, iters = 0, seedLowId = true)
      .select("cid").as[Long].collect()
    assert(low.map(_ / 50).distinct.length === 1)
  }

  test("k-means++ seeding stops short honestly when distinct rows < C") {
    val df = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0f, 0f)),
      (3L, Array(5f, 5f)), (4L, Array(5f, 5f))).toDF("id", "vec")
    val seeds = KMeans.seedPlusPlus(df, 4)
      .select("cid", "cvec").as[(Long, Array[Float])].collect()
    // only 2 distinct points exist: exactly the 2 distinct positions seed
    assert(seeds.length === 2)
    assert(seeds.map(_._2.toSeq).toSet ===
      Set(Seq(0f, 0f), Seq(5f, 5f)))
  }

  test("cluster permutation is a bijection with clusters contiguous") {
    val perm = ClusterPermute.permutation(base, c = 4, iters = 2)
      .select("id", "cid", "pos").as[(Long, Long, Long)].collect().sortBy(_._3)
    val n = base.count()
    assert(perm.length === n)
    assert(perm.map(_._3).toSeq === (0L until n).toSeq, "positions must be 0..n-1")
    assert(perm.map(_._1).distinct.length === n, "ids must be a permutation")
    // cluster ids must be non-decreasing along the permutation
    assert(perm.map(_._2).toSeq === perm.map(_._2).sorted.toSeq, "clusters not contiguous")
  }

  test("partition-local HNSW reaches high recall at a modest beam") {
    // heuristic neighbor diversification (getNeighborsByHeuristic2 analog)
    // buys this margin: the pre-heuristic graphs needed efSearch = 128 for
    // the same threshold
    val got = HnswKnn.knn(queries, base, 10, efSearch = 48, numPartitions = 4)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.95, s"hnsw recall $r at efSearch=48")
  }

  test("cosine HNSW: exhaustive beam equals brute-force cosine; modest beam recalls it") {
    val truth = Knn.knnJoin(queries, base, 10, Metric.Cosine)
    def rs(df: DataFrame) = df.select("qid", "id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val exact = HnswKnn.knnCosine(queries, base, 10,
      efSearch = 1 << 20, numPartitions = 4)
    assert(rs(exact) === rs(truth))
    val approx = HnswKnn.knnCosine(queries, base, 10,
      efSearch = 64, numPartitions = 4)
    val r = Recall.mean(approx, truth, 10)
    assert(r >= 0.9, s"cosine graph recall $r")
  }

  test("ip-metric HNSW recalls exact brute-force MIPS") {
    // the OOD track's max-inner-product metric on the graph path
    val ipTruth = Knn.knnJoin(queries, base, 10, Metric.Ip)
    val got = HnswKnn.knn(queries, base, 10, efSearch = 128,
      numPartitions = 4, metric = Metric.Ip)
    val r = Recall.mean(got, ipTruth, 10)
    assert(r >= 0.9, s"ip hnsw recall $r at efSearch=128")
  }

  test("ip-metric persisted graph probes with the stored metric") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-ip")
      .resolve("idx").toString
    HnswKnn.buildAndSave(base, path, numPartitions = 4, metric = Metric.Ip)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val mem = rs(HnswKnn.knn(queries, base, 10, efSearch = 64,
      numPartitions = 4, metric = Metric.Ip))
    val persisted = rs(HnswKnn.probeSaved(spark, path, queries, 10, efSearch = 64))
    assert(persisted === mem)
  }

  test("SQ8-coded graph: recall threshold unchanged, artifact ~4x smaller") {
    val (mins, spans) = Sq8.train(base)
    // same 0.95 bar as the float graph at the same beam: integer-coded
    // traversal + exact re-rank must not cost recall
    val got = HnswKnn.knnSq8(queries, base, 10, rerank = 40, mins, spans,
      efSearch = 48, numPartitions = 4)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.95, s"sq8 graph recall $r at efSearch=48, rerank=40")

    // persisted code artifact vs float artifact: vectors shrink 4x
    // (float32 -> uint8); assert the parquet footprint halves at least
    // (links/ids/parquet overhead dilute the full 4x)
    val dirF = java.nio.file.Files.createTempDirectory("graft-szf").resolve("idx").toString
    val dirQ = java.nio.file.Files.createTempDirectory("graft-szq").resolve("idx").toString
    HnswKnn.buildAndSave(base, dirF, numPartitions = 4)
    HnswKnn.buildAndSaveSq8(base, dirQ, mins, spans, numPartitions = 4)
    def duDir(p: String): Long = {
      val d = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(d)
    }
    val (szF, szQ) = (duDir(dirF), duDir(dirQ))
    assert(szQ * 2 < szF, s"sq8 artifact $szQ not <1/2 of float $szF")

    // persisted probe matches the in-memory sq8 path
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val persisted = rs(HnswKnn.probeSavedSq8(spark, dirQ, queries, base, 10,
      rerank = 40, efSearch = 48))
    assert(persisted === rs(got))
  }

  test("SQ8-coded graph under ip recalls exact brute-force MIPS") {
    val (mins, spans) = Sq8.train(base)
    val ipTruth = Knn.knnJoin(queries, base, 10, Metric.Ip)
    val got = HnswKnn.knnSq8(queries, base, 10, rerank = 40, mins, spans,
      efSearch = 128, numPartitions = 4, metric = Metric.Ip)
    val r = Recall.mean(got, ipTruth, 10)
    assert(r >= 0.9, s"sq8 ip graph recall $r")
  }

  test("k larger than the corpus returns every row, exactly ranked") {
    val small = base.where($"id" < 7)
    val got = HnswKnn.knn(queries.limit(3), small, k = 20,
      efSearch = 64, numPartitions = 2)
    val t = Knn.knnJoin(queries.limit(3), small, 20, Metric.L2)
    assert(got.count() === 3 * 7)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(got) === rs(t))
  }

  test("buildResidentAndSave: direct resident and its artifact probe identically") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-bras")
      .resolve("idx").toString
    val direct = HnswKnn.buildResidentAndSave(base, path, numPartitions = 4)
    val loaded = HnswKnn.loadResident(spark, path)
    try {
      val qs = queries.select($"qid", $"qvec")
        .as[(Long, Array[Float])].collect()
      // exhaustive beam ⇒ both sides are exact, so equality is total, not
      // merely recall-close; also exercises the tombstone path on both
      val dead = (0L until 2L).toSet
      assert(direct.probeBatch(qs, 10, 1 << 20).toSeq ===
        loaded.probeBatch(qs, 10, 1 << 20).toSeq)
      assert(direct.probeBatch(qs, 10, 1 << 20, dead).toSeq ===
        loaded.probeBatch(qs, 10, 1 << 20, dead).toSeq)
      // and at a working beam the graphs behave identically too (same
      // deterministic build on both sides)
      assert(direct.probeBatch(qs, 10, 64).toSeq ===
        loaded.probeBatch(qs, 10, 64).toSeq)
    } finally { direct.unload(); loaded.unload() }
  }

  test("resident probe with a delta buffer is exact over base ∪ delta") {
    // build the generation over ids >= 20, serve ids < 20 as the delta;
    // exhaustive beam makes the graph side exact, the delta side is exact
    // by construction, so the merge must equal brute force over the union
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-delta")
      .resolve("idx").toString
    val res = HnswKnn.buildResidentAndSave(base.where($"id" >= 20), path,
      numPartitions = 4)
    try {
      val qs = queries.select($"qid", $"qvec")
        .as[(Long, Array[Float])].collect()
      val delta = base.where($"id" < 20)
        .select($"id".cast("long"), $"vec")
        .as[(Long, Array[Float])].collect()
      val got = res.probeBatch(qs, 10, 1 << 20, Set.empty, delta)
        .map { case (qid, id, _, rank) => (qid, id, rank) }.toSet
      val t = truth.select("qid", "id", "rank")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === t)
      // a delta row that is ALSO a graph node (re-insert) must not occupy
      // two result slots: same answer with the overlap present
      val overlap = base.where($"id" >= 20 && $"id" < 40)
        .select($"id".cast("long"), $"vec")
        .as[(Long, Array[Float])].collect()
      val got2 = res.probeBatch(qs, 10, 1 << 20, Set.empty, delta ++ overlap)
        .map { case (qid, id, _, rank) => (qid, id, rank) }.toSet
      assert(got2 === t)
    } finally res.unload()
  }

  test("resident probeLocal equals the exchange-merged probe row-for-row") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-pl")
      .resolve("idx").toString
    HnswKnn.buildAndSave(base, path, numPartitions = 4)
    val resident = HnswKnn.loadResident(spark, path)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(resident.probeLocal(queries, 10, 64)) ===
      rs(resident.probe(queries, 10, 64)))
    // the serving-form batch API honors tombstones identically to probe()
    val dead = (0L until 3L).toSet
    val qs = queries.select($"qid", $"qvec")
      .as[(Long, Array[Float])].collect()
    val batch = resident.probeBatch(qs, 10, 64, tombstones = dead)
      .map(t => (t._1, t._2, t._4)).toSet
    assert(batch === rs(resident.probe(queries, 10, 64, tombstones = dead)))
    assert(batch.forall { case (_, id, _) => !dead.contains(id) })
    resident.unload()
  }

  test("resident signature scan equals the exact filtered kNN dataflow") {
    val tagged = TagFilter.withTags(emb)
    val q = TagFilter.tagQueries(emb, 10)
    val served = ResidentScan.load(tagged, numPartitions = 4)
    val qsig = TagFilter.withSignature(q, "qtags").withColumnRenamed("sig", "qsig")
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(served.probeLocal(qsig, 10)) ===
      rs(TagFilter.filteredKnn(q, tagged, 10)))
    served.unload()
  }

  test("resident scan under ip equals the exact filtered MIPS dataflow") {
    val tagged = TagFilter.withTags(emb)
    val q = TagFilter.tagQueries(emb, 10)
    val served = ResidentScan.load(tagged, numPartitions = 4, metric = Metric.Ip)
    val qsig = TagFilter.withSignature(q, "qtags").withColumnRenamed("sig", "qsig")
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(served.probeLocal(qsig, 10)) ===
      rs(TagFilter.filteredKnn(q, tagged, 10, Metric.Ip)))
    served.unload()
  }

  test("routed graphs: exact at the degenerate point, recall monotone in nprobe") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-rt")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, path, c = 8, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, path)
    // nprobe = C + exhaustive beam: full fan-out of exact scans = brute force
    val got = routed.probeLocal(queries, 10, efSearch = 1 << 20, nprobe = 8)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(got === t)
    // partial routing prunes clusters: recall trades like IVF's nprobe knob
    def r(np: Int) = Recall.mean(
      routed.probeLocal(queries, 10, efSearch = 64, nprobe = np), truth, 10)
    val (r2, r4) = (r(2), r(4))
    assert(r2 > 0.3, s"nprobe=2 recall $r2")
    assert(r4 >= r2, s"recall must not decrease with nprobe: $r2 -> $r4")
    routed.unload()
  }

  test("routed graphs with a graph-routed centroid rank: degenerate at " +
       "efRoute >= C, recall within eps of the linear rank at a pruned beam") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-rtg")
      .resolve("idx").toString
    // C large enough that the centroid HNSW is a real graph
    HnswRouted.buildAndSave(base, path, c = 48, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, path)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    // efRoute >= C is the linear rank verbatim: full fan-out stays exact
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(routed.probeLocal(queries, 10, efSearch = 1 << 20, nprobe = 48,
      efRoute = 48)) === t)
    assert(rs(routed.probeLocalAuto(queries, 10, efSearch = 1 << 20,
      minMass = 1.0, efRoute = 48)) === t)
    // pruned centroid beam: routing error stays within eps of the linear
    // rank at the same probe budget, for both routing shapes
    val linN = Recall.mean(
      routed.probeLocal(queries, 10, efSearch = 64, nprobe = 12), truth, 10)
    val grN = Recall.mean(
      routed.probeLocal(queries, 10, efSearch = 64, nprobe = 12,
        efRoute = 24), truth, 10)
    assert(grN >= linN - 0.05, s"graph-routed recall $grN vs linear $linN")
    val linM = Recall.mean(routed.probeLocalAuto(queries, 10, efSearch = 64,
      minMass = 0.3), truth, 10)
    val grM = Recall.mean(routed.probeLocalAuto(queries, 10, efSearch = 64,
      minMass = 0.3, efRoute = 24), truth, 10)
    assert(grM >= linM - 0.05, s"graph mass-routed recall $grM vs linear $linM")
    routed.unload()
  }

  test("mass-adaptive routing: exact at minMass=1, mass target met, recall monotone") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-rta")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, path, c = 8, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, path)
    // loadResident records cluster populations; they partition the corpus
    assert(routed.router.sizes.values.sum === base.count())
    // minMass = 1 + exhaustive beam: full fan-out = brute force
    val got = routed.probeLocalAuto(queries, 10, efSearch = 1 << 20, minMass = 1.0)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(got === t)
    // every route reaches the mass target (no cap in the way)
    val router = routed.router
    val total = router.sizes.values.sum.toDouble
    val qs = queries.select($"qid".cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    qs.foreach { case (_, qv) =>
      val r = router.byMass(qv, 0.5)
      val mass = r.map(router.sizes.getOrElse(_, 0L)).sum.toDouble
      assert(mass >= 0.5 * total, s"routed mass $mass < half of $total")
    }
    // maxNprobe caps the walk even short of the mass target
    assert(router.byMass(qs.head._2, 1.0, 2).length === 2)
    // recall trades monotonically against the mass knob, like nprobe
    def r(mm: Double) = Recall.mean(
      routed.probeLocalAuto(queries, 10, efSearch = 64, minMass = mm), truth, 10)
    val (lo, hi) = (r(0.3), r(0.9))
    assert(hi >= lo, s"recall must not decrease with mass: $lo -> $hi")
    assert(hi >= 0.9, s"minMass=0.9 recall $hi")
    routed.unload()
  }

  test("mass routing adapts the probe count to cluster skew") {
    // routing is a pure function of (centroids, sizes) — pin a skewed
    // layout directly: one giant cluster at the origin, a tail of small
    // ones marching away. A fixed nprobe over-probes queries near the
    // giant and starves queries in the tail; the mass walk adapts.
    val centroids = Array.tabulate(4)(c => (c, Array.fill(4)(10f * c)))
    val sizes = Map(0 -> 900L, 1 -> 50L, 2 -> 30L, 3 -> 20L)
    val router = new CoarseRouter(centroids, sizes)
    // near the giant: its 90% mass clears the target in one probe
    val nBlob = router.byMass(Array.fill(4)(0f), 0.4).length
    // deep in the tail: 20 + 30 + 50 of 1000 never reach 40% — the walk
    // must run all the way back to the giant
    val nOut = router.byMass(Array.fill(4)(30f), 0.4).length
    assert(nBlob === 1, s"blob probes $nBlob")
    assert(nOut === 4, s"outlier probes $nOut")
  }

  test("coarse router under ip routes by the brute-force negated-dot rank, " +
       "fixed nprobe and mass walk alike") {
    val rnd = new scala.util.Random(7)
    val centroids = Array.tabulate(24)(c => (c, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val sizes = centroids.map { case (c, _) => c -> (1L + rnd.nextInt(50)) }.toMap
    val router = new CoarseRouter(centroids, sizes, ip = true)
    val total = sizes.values.sum
    (0 until 20).foreach { _ =>
      val qv = Array.fill(6)(rnd.nextGaussian().toFloat)
      val rank = centroids.map { case (c, v) =>
        (-qv.indices.map(i => qv(i).toDouble * v(i)).sum, c) }.sorted.map(_._2)
      assert(router.byNprobe(qv, 5).toSeq === rank.take(5).toSeq)
      // the mass walk: the shortest rank prefix holding >= 40% of the rows
      val need = 0.4 * total
      val cum = rank.scanLeft(0L)(_ + sizes(_)).tail
      val want = rank.take(cum.indexWhere(_ >= need) + 1)
      assert(router.byMass(qv, 0.4).toSeq === want.toSeq)
      // efRoute >= C is the linear rank verbatim
      assert(router.byNprobeGraph(qv, 5, efRoute = 24).toSeq === rank.take(5).toSeq)
      assert(router.byMassGraph(qv, 0.4, efRoute = 24).toSeq === want.toSeq)
    }
  }

  test("routed graphs under ip route by max inner product and stay exact at the degenerate point") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-rtip")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, path, c = 4, kmIters = 2, metric = Metric.Ip)
    val routed = HnswRouted.loadResident(spark, path)
    val ipTruth = Knn.knnJoin(queries, base, 10, Metric.Ip)
    val got = routed.probeLocal(queries, 10, efSearch = 1 << 20, nprobe = 4)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = ipTruth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(got === t)
    routed.unload()
  }

  test("HNSW search is deterministic across rebuilds") {
    def run(): Set[(Long, Long, Long)] =
      HnswKnn.knn(queries, base, 10, efSearch = 64, numPartitions = 4)
        .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(run() === run())
  }

  test("filtered HNSW honors the label gate and matches exact filtered recall") {
    val fq = emb.where($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"), $"label".as("qlabel"))
    val fb = emb.select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val got = HnswKnn.filteredKnn(fq, fb, 10, efSearch = 400, numPartitions = 4).cache()
    // every neighbor satisfies the predicate
    val bad = got.join(fb, "id").join(fq.select("qid", "qlabel"), "qid")
      .where($"label" =!= $"qlabel")
    assert(bad.count() === 0)
    val exactTruth = Knn.filteredKnn(fq, fb, 10)
    val r = Recall.mean(got, exactTruth, 10)
    assert(r >= 0.9, s"filtered hnsw recall $r")
  }

  test("HNSW persisted probe equals the in-memory path exactly") {
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw").resolve("idx").toString
    HnswKnn.buildAndSave(base, path, numPartitions = 4)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val mem = rs(HnswKnn.knn(queries, base, 10, efSearch = 64, numPartitions = 4))
    val persisted = rs(HnswKnn.probeSaved(spark, path, queries, 10, efSearch = 64))
    assert(persisted === mem)
    // partition-pruned layout on disk
    val dirs = new java.io.File(path).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("part=")), s"expected part= dirs, got ${dirs.toSeq}")
  }

  test("one-stage conjunctive-tag graph search reaches exact-recall under a selective filter") {
    val q = TagFilter.tagQueries(emb, 10)
    val b = TagFilter.withTags(emb)
    // 2-tag conjunctive filter ≈ 1/70 selectivity: a fixed-ef post-filter
    // returns < k here; expand-until-k + exact fallback must not
    val got = HnswKnn.filteredKnnTags(q, b, 10, efSearch = 64, numPartitions = 4)
    val truth = TagFilter.filteredKnn(q, b, 10)
    val r = Recall.mean(got, truth, 10)
    assert(r >= 0.9, s"one-stage filtered recall $r")
    // every neighbor satisfies the conjunctive predicate
    val bad = got.join(b, "id").join(q.select($"qid", $"qtags"), "qid")
      .where(!forall($"qtags", t => array_contains($"tags", t)))
    assert(bad.count() === 0)
  }

  test("persisted filtered probe matches the in-memory one-stage search") {
    val q = TagFilter.tagQueries(emb, 10)
    val b = TagFilter.withTags(emb)
    val path = java.nio.file.Files.createTempDirectory("graft-hnswf").resolve("idx").toString
    HnswKnn.buildAndSave(b, path, numPartitions = 4)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val mem = rs(HnswKnn.filteredKnnTags(q, b, 10, efSearch = 64, numPartitions = 4))
    val persisted = rs(HnswKnn.probeSavedFiltered(spark, path, q, 10, efSearch = 64))
    assert(persisted === mem)
  }

  test("searchFiltered guarantees k allowed candidates under an adversarial filter") {
    val idx = new HnswIndex(m = 8, efConstruction = 50)
    (0 until 500).foreach { i =>
      idx.add(i.toLong, Array(i.toFloat, (i * 13 % 101).toFloat))
    }
    // 10 allowed nodes in a 500-node graph, tiny initial beam: the
    // admission-gated fixed beam returns far fewer than k — the one-stage
    // search must return ALL of them, exactly ranked
    val allowed: Long => Boolean = id => id % 50 == 0
    val got = idx.searchFiltered(Array(250.0f, 50.0f), 10, 4, allowed)
    assert(got.length === 10, s"expected all 10 allowed nodes, got ${got.length}")
    val exact = (0 until 500).filter(i => allowed(i.toLong)).map { i =>
      val dx = 250.0 - i; val dy = 50.0 - (i * 13 % 101)
      (i.toLong, dx * dx + dy * dy)
    }.sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
    assert(got.map(_._1).toSet === exact)
  }

  test("IVF,SQ8 composition: exact at the degenerate point, high recall pruned") {
    // nprobe = C and rerank = n: both approximations off → exact brute force
    val full = IvfSq8.knn(queries, base, 10, c = 8, iters = 2,
      nprobe = 8, rerank = base.count().toInt)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val t = truth.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full === t)
    // cluster pruning + quantization + modest rerank keeps recall useful.
    // Floor recalibrated 0.8 → 0.75 with the r10 seeding change: under
    // lowest-id seeding 8 of the 10 suite queries WERE the c = 8 seeds
    // (vec_id < 8 ⊂ qid < 10), so the old 0.8+ was query-leak flattery;
    // the unbiased hash-seeded partition reads 0.78 on this 500-row corpus
    val pruned = IvfSq8.knn(queries, base, 10, c = 8, iters = 2,
      nprobe = 4, rerank = 40)
    val r = Recall.mean(pruned, truth, 10)
    assert(r >= 0.75, s"ivf,sq8 recall $r at nprobe=4, rerank=40")
  }

  test("resident IVF×SQ8: exact at the degenerate point, equals the " +
       "dataflow composition row-for-row at pruned knobs") {
    val ivf = IvfIndex.build(base, c = 8, iters = 2)
    val (mins, spans) = Sq8.train(base)
    val served = ResidentCodes.loadIvfSq8(base, ivf, mins, spans, numPartitions = 4)
    try {
      def rs(df: DataFrame) =
        df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
      // nprobe = C and rerank = n: every row reaches the exact float
      // re-rank → brute force, quantization error irrelevant; an unbounded
      // rerank is the same point (each shard's buffer is capped at the rows
      // it routes to)
      val n = base.count().toInt
      for (r <- Seq(n, Int.MaxValue))
        assert(rs(served.probeLocal(queries, 10, nprobe = served.numClusters,
          rerank = r)) === rs(truth), s"rerank = $r")
      // pruned knobs: the resident scan's survivor set equals the dataflow
      // form's (same integer coarse distances, same (dist, id) tie-break),
      // so the refined rows match exactly
      val flow = IvfSq8.knnWith(ivf, queries, base, 10, nprobe = 4,
        rerank = 40, mins, spans)
      assert(rs(served.probeLocal(queries, 10, nprobe = 4, rerank = 40))
        === rs(flow))
      // (the pruned-knob equality above is also the client-side encode
      // parity check: a single differing query code would perturb the
      // integer survivor set and break the row-for-row match)
      val recall = Recall.mean(
        served.probeLocal(queries, 10, nprobe = 4, rerank = 40), truth, 10)
      // 0.8 → 0.75: same query-leak recalibration as the dataflow twin
      assert(recall >= 0.75, s"resident ivf,sq8 recall $recall")
    } finally served.unload()
  }

  test("mass-adaptive IVF routing: exact at minMass=1, client- and " +
       "shard-side routing identical, ADC twin agrees at the same mass") {
    val ivf = IvfIndex.build(base, c = 8, iters = 2)
    val (mins, spans) = Sq8.train(base)
    val served = ResidentCodes.loadIvfSq8(base, ivf, mins, spans, numPartitions = 4)
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val adc = ResidentCodes.loadIvfAdc(base, ivf, cb, numPartitions = 4)
    val res = ResidentCodes.loadIvfResidual(base,
      IvfPq.buildResidualWith(ivf, base, m = 4, ksub = 16, iters = 2),
      numPartitions = 4)
    try {
      def rs(df: DataFrame) =
        df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
      val n = base.count().toInt
      // minMass = 1.0 walks every cluster; rerank = n floats every row
      // through the exact refine → brute force (the hash-gate point)
      assert(rs(served.probeLocalMass(queries, 10, minMass = 1.0,
        rerank = n)) === rs(truth))
      assert(rs(adc.probeLocalMass(queries, 10, minMass = 1.0,
        rerank = n)) === rs(truth))
      // pruned mass: shard-side routing (the large-C serving path) must
      // produce the client-side rows verbatim — same router, same order —
      // for every routed code type (one front end serves them all)
      val qs = queries.select($"qid".cast("long"), $"qvec")
        .as[(Long, Array[Float])].collect()
      for ((what, s) <- Seq("sq8" -> served, "ivfadc" -> adc, "residual" -> res)) {
        val client = s.probeBatchMass(qs, 10, minMass = 0.5, rerank = 40,
          shardRoute = Some(false))
        val shardSide = s.probeBatchMass(qs, 10, minMass = 0.5,
          rerank = 40, shardRoute = Some(true))
        assert(client.toSeq === shardSide.toSeq, what)
      }
      // mass routing scans at least the requested fraction's best clusters,
      // so at equal (mass ≈ nprobe/C) budgets recall is comparable to the
      // fixed-nprobe route on this near-uniform corpus
      val r = Recall.mean(
        served.probeLocalMass(queries, 10, minMass = 0.5, rerank = 40),
        truth, 10)
      assert(r >= 0.7, s"mass-routed ivf,sq8 recall $r at minMass=0.5")
    } finally {
      served.unload()
      adc.unload()
      res.unload()
    }
  }

  test("graph-routed coarse quantizer: degenerate at efRoute >= C, shard- " +
       "and client-side identical, recall holds at a pruned beam") {
    // C large enough that the centroid HNSW is a real graph, not a clique
    val ivf = IvfIndex.build(base, c = 64, iters = 2)
    val (mins, spans) = Sq8.train(base)
    val served = ResidentCodes.loadIvfSq8(base, ivf, mins, spans, numPartitions = 4)
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val adc = ResidentCodes.loadIvfAdc(base, ivf, cb, numPartitions = 4)
    val res = ResidentCodes.loadIvfResidual(base,
      IvfPq.buildResidualWith(ivf, base, m = 4, ksub = 16, iters = 2),
      numPartitions = 4)
    try {
      def rs(df: DataFrame) =
        df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
      val n = base.count().toInt
      // efRoute >= C is the exact linear rank verbatim, so the full
      // degenerate composition (minMass=1, rerank=n) stays brute force —
      // the driver gate's point, now through the efRoute-threaded path
      assert(rs(served.probeLocalMass(queries, 10, minMass = 1.0, rerank = n,
        efRoute = served.numClusters)) === rs(truth))
      assert(rs(adc.probeLocalMass(queries, 10, minMass = 1.0, rerank = n,
        efRoute = adc.numClusters)) === rs(truth))
      // pruned beam: routing goes through the centroid graph. Client- and
      // shard-side routing build the same deterministic graph (level draws
      // key on cid), so the rows must match verbatim — for every routed
      // code type, by mass and by a fixed count.
      val qs = queries.select($"qid".cast("long"), $"qvec")
        .as[(Long, Array[Float])].collect()
      for ((what, s) <- Seq("sq8" -> served, "ivfadc" -> adc, "residual" -> res)) {
        val client = s.probeBatchMass(qs, 10, minMass = 0.3, rerank = 40,
          shardRoute = Some(false), efRoute = 32)
        val shardSide = s.probeBatchMass(qs, 10, minMass = 0.3, rerank = 40,
          shardRoute = Some(true), efRoute = 32)
        assert(client.toSeq === shardSide.toSeq, what)
        assert(s.probeBatch(qs, 10, nprobe = 16, rerank = 40, efRoute = 32,
          shardRoute = Some(false)).toSeq === s.probeBatch(qs, 10, nprobe = 16,
          rerank = 40, efRoute = 32, shardRoute = Some(true)).toSeq, what)
      }
      // end-to-end recall at the pruned beam stays within eps of the
      // linear rank at the same scan mass (graph routing error only)
      val lin = Recall.mean(served.probeLocalMass(queries, 10,
        minMass = 0.3, rerank = 40), truth, 10)
      val gr = Recall.mean(served.probeLocalMass(queries, 10,
        minMass = 0.3, rerank = 40, efRoute = 32), truth, 10)
      assert(gr >= lin - 0.05, s"graph-routed recall $gr vs linear $lin")
      // and the fixed-count route shape concurs
      val grN = Recall.mean(served.probeLocal(queries, 10, nprobe = 16,
        rerank = 40, efRoute = 32), truth, 10)
      val linN = Recall.mean(served.probeLocal(queries, 10, nprobe = 16,
        rerank = 40), truth, 10)
      assert(grN >= linN - 0.05, s"graph nprobe recall $grN vs linear $linN")
    } finally {
      served.unload()
      adc.unload()
      res.unload()
    }
  }

  test("resident HNSW probes equal the per-batch persisted probes") {
    val b = TagFilter.withTags(emb)
    val q = TagFilter.tagQueries(emb, 10)
    val path = java.nio.file.Files.createTempDirectory("graft-hnswr").resolve("idx").toString
    HnswKnn.buildAndSave(b, path, numPartitions = 4)
    val resident = HnswKnn.loadResident(spark, path)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(resident.probe(queries, 10, efSearch = 64)) ===
      rs(HnswKnn.probeSaved(spark, path, queries, 10, efSearch = 64)))
    assert(rs(resident.probeFiltered(q, 10, efSearch = 64)) ===
      rs(HnswKnn.probeSavedFiltered(spark, path, q, 10, efSearch = 64)))
    resident.unload()
  }

  test("an evicted resident graph re-probes to identical rows: lineage " +
       "rebuild, parquet refill, routed graphs and the tag registry") {
    val qs = queries.select($"qid".cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).resolve("idx").toString
    // probe, drop the pinned graphs, probe again: the second probe runs on
    // graphs rebuilt from the RDD's lineage
    def reprobe(what: String, unload: () => Unit)(
        probe: => Array[(Long, Long, Double, Long)]): Unit =
      try {
        val before = probe
        assert(before.nonEmpty, what)
        unload()
        assert(probe.toSeq === before.toSeq, what)
      } finally unload()
    val built = HnswKnn.buildResident(base, numPartitions = 4)
    reprobe("buildResident", built.unload)(
      built.probeBatch(qs, 10, 32, tombstones = Set(0L, 1L)))
    val fp = tmp("graft-evict-flat")
    HnswKnn.buildAndSave(base, fp, numPartitions = 4)
    val loaded = HnswKnn.loadResident(spark, fp)
    reprobe("loadResident", loaded.unload)(loaded.probeBatch(qs, 10, 32))
    val rp = tmp("graft-evict-routed")
    HnswRouted.buildAndSave(base, rp, c = 6, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, rp)
    reprobe("HnswRouted", routed.unload)(routed.probeBatch(qs, 10, 32, nprobe = 2))
    val tp = tmp("graft-evict-tags")
    TagSubindexes.build(TagFilter.withTags(emb), tp, minFreqBp = 500,
      numPartitions = 2)
    val reg = TagSubindexes.loadResident(spark, tp)
    val groups = emb.where($"vec_id" < 20)
      .select($"vec_id".cast("long"), $"embedding", $"label".cast("int"))
      .as[(Long, Array[Float], Int)].collect()
      .groupBy(_._3.toString)
      .map { case (key, rows) => key -> rows.map(r => (r._1, r._2)) }
    reprobe("registry", reg.unload)(reg.probeGroupsBatch(groups, 10, 32))
  }

  test("routed planner with live graph branch: both regimes, recall >= 0.9") {
    val b = TagFilter.withTags(emb)
    val twoTag = TagFilter.tagQueries(emb, 10) // rarest ~1000bp → exact branch
    val oneTag = emb.where($"vec_id" >= 10 && $"vec_id" < 20) // 1428bp → graph
      .select($"vec_id".as("qid"), $"embedding".as("qvec"),
        array((lit(10) + pmod($"vec_id" * 3 + 1, lit(7))).cast("int")).as("qtags"))
    val q = twoTag.unionByName(oneTag).cache()
    val got = RoutedGraphKnn.knn(q, b, 10, thresholdBp = 1200,
      efSearch = 64, numPartitions = 4).cache()
    // every query answered (the one-stage guarantee covers the graph branch)
    assert(got.select("qid").distinct().count() === q.count())
    // every neighbor satisfies its query's conjunctive predicate
    val bad = got.join(b, "id").join(q.select($"qid", $"qtags"), "qid")
      .where(!forall($"qtags", t => array_contains($"tags", t)))
    assert(bad.count() === 0)
    val r = Recall.mean(got, TagFilter.filteredKnn(q, b, 10), 10)
    assert(r >= 0.9, s"planner recall $r")
  }

  test("tree-merged resident probes equal the driver merge row-for-row") {
    // treeMergeAt = 1 forces the two-level treeAggregate fan-in; bounded
    // dedup-top-k is associative (duplicate ids carry identical distances),
    // so the rows must match the driver merge exactly — including under
    // tombstones + a delta whose ids overlap graph residents
    val path = java.nio.file.Files.createTempDirectory("graft-treemerge")
      .resolve("idx").toString
    HnswKnn.buildAndSave(base, path, numPartitions = 8)
    val res = HnswKnn.loadResident(spark, path)
    val qs = queries.select($"qid".cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    assert(res.probeBatch(qs, 10, 16).toSeq ===
      res.probeBatch(qs, 10, 16, treeMergeAt = 1).toSeq)
    val dead = (0L until 50L).toSet
    val delta = base.where($"id" < 100)
      .select($"id".cast("long"), $"vec")
      .as[(Long, Array[Float])].collect() // 50..99 duplicate graph residents
    assert(res.probeBatch(qs, 10, 16, dead, delta).toSeq ===
      res.probeBatch(qs, 10, 16, dead, delta, treeMergeAt = 1).toSeq)
    res.unload()
    // scan serving form, filtered and range-masked probes
    val scan = ResidentScan.load(TagFilter.withTags(emb), numPartitions = 8)
    val sq = TagFilter.withSignature(TagFilter.tagQueries(emb, 20), "qtags")
      .select($"qid".cast("long"), $"qvec", $"qtags", $"sig".cast("long"))
      .as[(Long, Array[Float], Array[Int], Long)].collect()
    assert(scan.probeBatch(sq, 10).toSeq ===
      scan.probeBatch(sq, 10, treeMergeAt = 1).toSeq)
    val ranges = Array((10L, 60L), (100L, 150L))
    assert(scan.probeBatchRanges(qs, 10, ranges).toSeq ===
      scan.probeBatchRanges(qs, 10, ranges, treeMergeAt = 1).toSeq)
    scan.unload()
  }

  test("per-hot-tag subindexes: membership is exact, recall matches the filtered scan") {
    val b = TagFilter.withTags(emb).cache()
    // file:-prefixed URI: the registry listing must go through the Hadoop
    // FileSystem API (java.io.File cannot resolve scheme-qualified paths,
    // and returns null on HDFS/S3 — a silent empty registry)
    val path = "file:" + java.nio.file.Files.createTempDirectory("graft-sub")
      .resolve("idx").toString
    // 500 bp catches every label tag on this data → all 10 query labels
    // get subindexes (a label under the cut would route to the posting path
    // and return no rows here — asserted below)
    val hot = TagSubindexes.build(b, path, minFreqBp = 500, numPartitions = 2)
    assert(hot.nonEmpty)
    // contract: probing a tag with no subindex yields no rows, not an error
    val missing = TagSubindexes.probe(spark, path,
      emb.where($"vec_id" < 2).select($"vec_id".as("qid"),
        $"embedding".as("qvec"), lit(9999).as("qtag")), k = 10)
    assert(missing.count() === 0)
    // single-tag queries: first derived tag of the first 10 vectors
    val q = emb.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"),
        $"label".cast("int").as("qtag")).cache()
    val got = TagSubindexes.probe(spark, path, q, k = 10, efSearch = 64).cache()
    // every neighbor carries the query's tag (membership by construction)
    val bad = got.join(b, "id").join(q.select("qid", "qtag"), "qid")
      .where(!array_contains($"tags", $"qtag"))
    assert(bad.count() === 0)
    // recall vs the exact single-tag filtered scan
    val truthF = Knn.filteredKnn(
      q.select($"qid", $"qvec", $"qtag".as("qlabel")),
      b.select($"id", $"vec", $"tags".getItem(0).as("label")), 10)
    val r = Recall.mean(got, truthF, 10)
    assert(r >= 0.9, s"subindex recall $r")
    // serving-form batch probe (the Bench qps row's unit) equals the
    // DataFrame group probe row-for-row through a held-open registry
    val reg = TagSubindexes.loadResident(spark, path)
    try {
      val groups = q.select($"qid".cast("long"), $"qvec", $"qtag")
        .as[(Long, Array[Float], Int)].collect()
        .groupBy(_._3.toString)
        .map { case (key, rows) =>
          key -> rows.map { case (qid, qv, _) => (qid, qv) } }
      val viaBatch = reg.probeGroupsBatch(groups, k = 10, efSearch = 64)
        .map(t => (t._1, t._2, t._4)).toSet
      val viaProbe = got.select($"qid".cast("long"), $"id".cast("long"),
        $"rank".cast("long")).as[(Long, Long, Long)].collect().toSet
      assert(viaBatch === viaProbe,
        "a held-open registry must serve TagSubindexes.probe's rows")
    } finally reg.unload()
  }

  test("grouped subindex build equals a standalone buildAndSave per tag, graph for graph") {
    // the one-job build claims bit-identical graphs (same hash partition
    // assignment, same ascending-id insertion) — probe at a NARROW beam so
    // graph shape, not just membership, decides the answer, and compare
    // against a per-tag buildAndSave artifact
    val b = TagFilter.withTags(emb).cache()
    val regPath = java.nio.file.Files.createTempDirectory("graft-subgrp")
      .resolve("reg").toString
    val hot = TagSubindexes.build(b, regPath, minFreqBp = 500, numPartitions = 2)
    assert(hot.nonEmpty)
    val tag = hot.head
    val solo = java.nio.file.Files.createTempDirectory("graft-subsolo")
      .resolve("idx").toString
    graft.index.HnswKnn.buildAndSave(
      b.where(array_contains($"tags", tag)).select("id", "vec"),
      solo, numPartitions = 2)
    val q = emb.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val viaRegistry = TagSubindexes.probe(spark, regPath,
      q.withColumn("qtag", lit(tag)), k = 10, efSearch = 24)
    val viaSolo = graft.index.HnswKnn.probeSaved(spark, solo, q, 10,
      efSearch = 24)
    assert(rs(viaRegistry) === rs(viaSolo))
  }

  test("pair subindexes: exhaustive probe equals exact conjunctive kNN; unbuilt pairs yield no rows") {
    val b = TagFilter.withTags(emb).cache()
    val path = java.nio.file.Files.createTempDirectory("graft-pairspec")
      .resolve("reg").toString
    val pairs = TagSubindexes.buildPairs(b, path, minPairCount = 1, numPartitions = 2)
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (t1, t2) => t1 < t2 })
    val q = TagFilter.tagQueries(emb, 10)
      .select($"qid", $"qvec",
        $"qtags".getItem(0).as("qtag1"), $"qtags".getItem(1).as("qtag2"))
    val got = TagSubindexes.probePairs(spark, path, q, k = 10, efSearch = 1 << 20)
    val truth = TagFilter.filteredKnn(TagFilter.tagQueries(emb, 10), b, 10)
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(rs(got) === rs(truth))
    // a pair no doc holds was never built; probing it is empty, not an error
    val none = TagSubindexes.probePairs(spark, path,
      emb.where($"vec_id" < 2).select($"vec_id".as("qid"),
        $"embedding".as("qvec"), lit(9998).as("qtag1"), lit(9999).as("qtag2")), 10)
    assert(none.count() === 0)
  }

  test("VectorIndex: flat and exhaustive IVF agree exactly; save/load dispatches by kind") {
    val tagged = TagFilter.withTags(emb).cache()
    val tq = TagFilter.tagQueries(emb, 10).cache()
    def rs(df: DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet

    val flat = VectorIndex.flat(tagged)
    val ivf = VectorIndex.ivf(tagged, c = 8, iters = 2, nprobe = 8)
    assert(rs(ivf.probe(queries, 10)) === rs(flat.probe(queries, 10)))
    // filtered probes agree with the exact conjunctive path
    val exactF = rs(TagFilter.filteredKnn(tq, tagged, 10))
    assert(rs(flat.probeFiltered(tq, 10)) === exactF)
    assert(rs(ivf.probeFiltered(tq, 10)) === exactF)

    // uniform persistence: each kind round-trips through the same load()
    val dir = java.nio.file.Files.createTempDirectory("graft-vidx")
    for ((idx, name) <- Seq((flat, "flat"), (ivf, "ivf"))) {
      val p = dir.resolve(name).toString
      idx.save(p)
      val loaded = VectorIndex.load(spark, p, nprobe = 8)
      assert(rs(loaded.probe(queries, 10)) === rs(idx.probe(queries, 10)), name)
    }
    val hnswWork = dir.resolve("hnsw-work").toString
    val hnsw = VectorIndex.hnsw(tagged, hnswWork, numPartitions = 4, efSearch = 64)
    val p = dir.resolve("hnsw").toString
    hnsw.save(p)
    val loaded = VectorIndex.load(spark, p, efSearch = 64)
    assert(rs(loaded.probe(queries, 10)) === rs(hnsw.probe(queries, 10)))
    assert(Recall.mean(hnsw.probe(queries, 10), truth, 10) >= 0.9)

    // SQ8-coded graph kind: same surface, compact artifact, exact filtered
    val sq8Work = dir.resolve("hnsw-sq8-work").toString
    val sq8 = VectorIndex.hnswSq8(tagged, sq8Work, numPartitions = 4,
      efSearch = 64, rerank = 40)
    assert(Recall.mean(sq8.probe(queries, 10), truth, 10) >= 0.9)
    assert(rs(sq8.probeFiltered(tq, 10)) === exactF)
    val p8 = dir.resolve("hnsw-sq8").toString
    sq8.save(p8)
    val loaded8 = VectorIndex.load(spark, p8, efSearch = 64, rerank = 40)
    assert(rs(loaded8.probe(queries, 10)) === rs(sq8.probe(queries, 10)))

    // OPQ kind: trained rotation + codes round-trip through kind dispatch;
    // probe parity before/after persistence, filtered = exact conjunctive
    val opq = VectorIndex.opq(tagged, m = 8, ksub = 32, rerank = 100)
    assert(rs(opq.probeFiltered(tq, 10)) === exactF)
    val pOpq = dir.resolve("opq").toString
    opq.save(pOpq)
    val loadedOpq = VectorIndex.load(spark, pOpq, rerank = 100)
    assert(rs(loadedOpq.probe(queries, 10)) === rs(opq.probe(queries, 10)))

    // centroid-routed kind: exhaustive nprobe agrees with flat; round-trips
    val rtWork = dir.resolve("hnsw-rt-work").toString
    val rt = VectorIndex.hnswRouted(tagged, rtWork, c = 4, nprobe = 4,
      efSearch = 1 << 20)
    assert(rs(rt.probe(queries, 10)) === rs(flat.probe(queries, 10)))
    assert(rs(rt.probeFiltered(tq, 10)) === exactF)
    val prt = dir.resolve("hnsw-rt").toString
    rt.save(prt)
    val loadedRt = VectorIndex.load(spark, prt, nprobe = 4, efSearch = 1 << 20)
    assert(rs(loadedRt.probe(queries, 10)) === rs(rt.probe(queries, 10)))

    // binary kind: all-rows rerank budget = exact; round-trips; filtered
    // = exact conjunctive
    val nAll = tagged.count().toInt
    val bin = VectorIndex.binary(tagged, rerank = nAll)
    assert(rs(bin.probe(queries, 10)) === rs(flat.probe(queries, 10)))
    assert(rs(bin.probeFiltered(tq, 10)) === exactF)
    val pBin = dir.resolve("binary").toString
    bin.save(pBin)
    val loadedBin = VectorIndex.load(spark, pBin, rerank = nAll)
    assert(rs(loadedBin.probe(queries, 10)) === rs(bin.probe(queries, 10)))
  }

  test("VectorIndex registry: EVERY kind round-trips save -> load -> " +
       "probe-equals-prebuilt on one fixture") {
    // enumerating parity gate (r5 item 7): a future kind added to the
    // registry without persistence parity fails here, not in production.
    // Knobs are held identical between build and load so the probe must be
    // row-identical, kind by kind.
    val dir = java.nio.file.Files.createTempDirectory("graft-registry")
    def tmp(tag: String) = dir.resolve(tag).toString
    val kinds: Seq[(String, () => VectorIndex)] = Seq(
      "flat" -> (() => VectorIndex.flat(base)),
      "binary" -> (() => VectorIndex.binary(base, rerank = 100)),
      "ivf" -> (() => VectorIndex.ivf(base, c = 4, iters = 2, nprobe = 4)),
      "hnsw" -> (() => VectorIndex.hnsw(base, tmp("h"), numPartitions = 2)),
      "hnsw_sq8" -> (() => VectorIndex.hnswSq8(base, tmp("hs"),
        numPartitions = 2, rerank = 100)),
      "hnsw_routed" -> (() => VectorIndex.hnswRouted(base, tmp("hr"), c = 4,
        nprobe = 4)),
      "pq" -> (() => VectorIndex.pq(base, m = 4, ksub = 16, iters = 2,
        rerank = 100)),
      "opq" -> (() => VectorIndex.opq(base, m = 4, ksub = 16, iters = 2,
        rerank = 100)),
      "ivfpq" -> (() => VectorIndex.ivfPq(base, c = 4, iters = 2, m = 4,
        ksub = 16, nprobe = 4, rerank = 100)))
    def rows(ix: VectorIndex) = ix.probe(queries, 10)
      .select(col("qid").cast("long"), col("id").cast("long"),
        col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    kinds.foreach { case (kind, mk) =>
      val built = mk()
      val before = rows(built)
      assert(before.nonEmpty, s"kind $kind returned no rows")
      val path = tmp(s"save-$kind")
      built.save(path)
      val loaded = VectorIndex.load(spark, path, nprobe = 4, efSearch = 64,
        rerank = 100)
      assert(rows(loaded) === before,
        s"kind $kind: persisted probe differs from the prebuilt index")
    }
  }

  test("in-memory HnswIndex: exact on tiny data, predicate gate respected") {
    val idx = new HnswIndex(m = 8, efConstruction = 50)
    val vecs = (0 until 50).map(i => (i.toLong, Array(i.toFloat, (i * i % 17).toFloat)))
    vecs.foreach { case (id, v) => idx.add(id, v) }
    val res = idx.search(Array(25.0f, 3.0f), 5, ef = 50)
    assert(res.length === 5)
    assert(res.sortBy(_._2).toSeq === res.toSeq, "results ascend by distance")
    val even = idx.search(Array(25.0f, 3.0f), 5, ef = 50, id => id % 2 == 0)
    assert(even.forall(_._1 % 2 == 0))
  }

  test("ProbeSlices.striped probeBatch equals the unsliced batch row-for-row") {
    // stripes partition qids and each qid's result is independent of its
    // job-mates, so striping is pure scheduling — the serving-loop shape
    // the bench times (r12). Asserted across the resident families the
    // bench stripes: flat HNSW, the filtered signature scan, and the
    // routed graphs (fixed-nprobe and mass-adaptive).
    val qs = emb.where($"vec_id" < 40)
      .select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    val flat = HnswKnn.buildResident(base, numPartitions = 4)
    try {
      for (s <- Seq(2, 3, 7, 64))
        assert(ProbeSlices.striped(qs, s)(
          st => flat.probeBatch(st, 10, 64))(r => (r._1, r._4)).toSeq ===
          flat.probeBatch(qs, 10, 64).toSeq, s"flat slices=$s")
    } finally flat.unload()
    val tagged = TagFilter.withTags(emb)
    val scanQs = TagFilter
      .withSignature(TagFilter.tagQueries(emb, 20), "qtags")
      .select($"qid".cast("long"), $"qvec", $"qtags", $"sig".cast("long"))
      .as[(Long, Array[Float], Array[Int], Long)].collect()
    val scan = ResidentScan.load(tagged, numPartitions = 4)
    try {
      assert(ProbeSlices.striped(scanQs, 4)(
        st => scan.probeBatch(st, 10))(r => (r._1, r._4)).toSeq ===
        scan.probeBatch(scanQs, 10).toSeq)
    } finally scan.unload()
    val rp = java.nio.file.Files.createTempDirectory("graft-slices-rt")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, rp, c = 6, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, rp)
    try {
      assert(ProbeSlices.striped(qs, 5)(
        st => routed.probeBatch(st, 10, 64, nprobe = 2))(
        r => (r._1, r._4)).toSeq ===
        routed.probeBatch(qs, 10, 64, nprobe = 2).toSeq)
      assert(ProbeSlices.striped(qs, 5)(
        st => routed.probeBatchAuto(st, 10, 64, minMass = 0.25))(
        r => (r._1, r._4)).toSeq ===
        routed.probeBatchAuto(qs, 10, 64, minMass = 0.25).toSeq)
    } finally routed.unload()
    // the tag registry stripes through the same ProbeSlices.striped: mixed
    // key groups, so a stripe carries several keys' queries
    val tp = java.nio.file.Files.createTempDirectory("graft-slices-tag")
      .resolve("idx").toString
    TagSubindexes.build(tagged, tp, minFreqBp = 500, numPartitions = 2)
    val reg = TagSubindexes.loadResident(spark, tp)
    try {
      val groups = emb.where($"vec_id" < 40)
        .select($"vec_id".cast("long"), $"embedding", $"label".cast("int"))
        .as[(Long, Array[Float], Int)].collect()
        .groupBy(_._3.toString)
        .map { case (key, rows) => key -> rows.map(r => (r._1, r._2)) }
      val want = reg.probeGroupsBatch(groups, 10, 64).toSeq
      assert(want.nonEmpty)
      for (s <- Seq(2, 3, 7))
        assert(reg.probeGroupsBatch(groups, 10, 64, slices = s).toSeq === want,
          s"tag registry slices=$s")
    } finally reg.unload()
    // degenerate inputs: slices <= 1 and empty batches are the plain path
    assert(ProbeSlices.striped(Array.empty[(Long, Array[Float])], 4)(
      st => { assert(st.isEmpty); Array.empty[(Long, Long, Double, Long)] })(
      r => (r._1, r._4)).isEmpty)
  }

  test("ProbeSlices.striped parity holds for the ADC-mass and binary-rerank " +
       "kernels") {
    // ADVICE r12: the bench stripes probeBatchMass (the IVF families) and
    // the refined Hamming probe too — pin their striping contract
    // alongside the flat/scan/routed/sparse/maxsim parities so a future
    // change to those kernels can't silently violate the qid-independence
    // assumption striping rests on.
    val qs = queries.select($"qid".cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    val ivf = IvfIndex.build(base, c = 8, iters = 2)
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val adc = ResidentCodes.loadIvfAdc(base, ivf, cb, numPartitions = 4)
    try {
      assert(ProbeSlices.striped(qs, 3)(
        st => adc.probeBatchMass(st, 10, minMass = 0.5, rerank = 40))(
        r => (r._1, r._4)).toSeq ===
        adc.probeBatchMass(qs, 10, minMass = 0.5, rerank = 40).toSeq)
    } finally adc.unload()
    val bin = ResidentCodes.loadHamming(base, numPartitions = 4, pinFloats = true)
    try {
      assert(ProbeSlices.striped(qs, 3)(
        st => bin.probeBatch(st, k = 10, rerank = 25))(
        r => (r._1, r._4)).toSeq ===
        bin.probeBatch(qs, k = 10, rerank = 25).toSeq)
    } finally bin.unload()
  }

  test("resident probes validate each batch: query dimension, k, empty batch") {
    val good = queries.select($"qid".cast("long"), $"qvec")
      .as[(Long, Array[Float])].collect()
    val d = good.head._2.length
    // an otherwise valid batch plus one query a component short, or long
    val bads = Seq(good.head._2.take(d - 1), good.head._2 :+ 0.5f)
      .map(v => good :+ ((999L, v)))
    // an otherwise valid batch plus one query with a NaN or infinite value
    val nonFinite = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
      .map(x => good :+ ((998L, good.head._2.updated(d / 2, x))))
    def rejects(what: String)(probe: Array[(Long, Array[Float])] => Any): Unit = {
      for (qs <- bads)
        assert(intercept[IllegalArgumentException](probe(qs)).getMessage
          .contains("dimension"), what)
      for (qs <- nonFinite)
        assert(intercept[IllegalArgumentException](probe(qs)).getMessage
          .contains("finite"), what)
    }
    val scan = ResidentScan.load(TagFilter.withTags(emb), numPartitions = 2)
    try rejects("scan") { qs =>
      scan.probeBatch(qs.map { case (q, v) => (q, v, Array.empty[Int], 0L) }, 10)
    } finally scan.unload()
    val rp = java.nio.file.Files.createTempDirectory("graft-dim-rt")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, rp, c = 4, kmIters = 2)
    val routed = HnswRouted.loadResident(spark, rp)
    try rejects("routed graph")(routed.probeBatch(_, 10, 64, nprobe = 2))
    finally routed.unload()
    val flat = HnswKnn.buildResident(base, numPartitions = 2)
    try {
      rejects("HNSW resident")(flat.probeBatch(_, 10, 64))
      assert(intercept[IllegalArgumentException](
        flat.probeBatch(good, 0, 64)).getMessage.contains("k must be"))
      assert(flat.probeBatch(Array.empty[(Long, Array[Float])], 10, 64).isEmpty)
    } finally flat.unload()
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val adc = ResidentCodes.loadAdc(base, cb, numPartitions = 2)
    try rejects("ADC")(adc.probeBatch(_, 10, rerank = 20))
    finally adc.unload()
    // a query a component short packs to the same sign words, so the
    // Hamming forms check the float query, codes-only load included
    val codesOnly = ResidentCodes.loadHamming(base, numPartitions = 2)
    try {
      rejects("Hamming codes-only")(codesOnly.probeBatchCodes(_, 10))
      assert(intercept[IllegalArgumentException](
        codesOnly.probeBatch(good, 10, rerank = 20)).getMessage
        .contains("pinFloats"))
    } finally codesOnly.unload()
    val pinned = ResidentCodes.loadHamming(base, numPartitions = 2,
      pinFloats = true)
    try {
      rejects("Hamming floats-pinned")(pinned.probeBatchCodes(_, 10))
      rejects("Hamming refined")(pinned.probeBatch(_, 10, rerank = 20))
    } finally pinned.unload()
  }

  test("every code loader refuses a corpus of mixed dimension") {
    // one more row, a component longer; it reuses a base id, so the IVF
    // loads' assignment join keeps it
    val (id0, v0) = base.select($"id".cast("long"), $"vec")
      .as[(Long, Array[Float])].head()
    val mixed = base.select($"id".cast("long"), $"vec")
      .union(Seq((id0, v0 :+ 0.5f)).toDF("id", "vec"))
    val ivf = IvfIndex.build(base, c = 8, iters = 2)
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val (rot, rcb) = Opq.trainRotatedLossless(base, m = 4)
    val idx = IvfPq.buildResidualWith(ivf, base, m = 4, ksub = 16, iters = 2)
    val (mins, spans) = Sq8.train(base)
    // a refused load leaves nothing pinned
    def refuses(what: String)(load: => ResidentCodes[_]): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(intercept[IllegalArgumentException](load).getMessage
        .contains("mix dimensions"), what)
      assert(spark.sparkContext.getPersistentRDDs.keySet === before, what)
    }
    refuses("flat")(ResidentCodes.loadAdc(mixed, cb, numPartitions = 2))
    refuses("rotated")(
      ResidentCodes.loadAdcRotated(mixed, rot, rcb, numPartitions = 2))
    refuses("IVF raw")(ResidentCodes.loadIvfAdc(mixed, ivf, cb, numPartitions = 2))
    refuses("IVF residual")(
      ResidentCodes.loadIvfResidual(mixed, idx, numPartitions = 2))
    refuses("IVF-SQ8")(
      ResidentCodes.loadIvfSq8(mixed, ivf, mins, spans, numPartitions = 2))
    refuses("Hamming codes-only")(
      ResidentCodes.loadHamming(mixed, numPartitions = 2))
    refuses("Hamming floats-pinned")(
      ResidentCodes.loadHamming(mixed, numPartitions = 2, pinFloats = true))
  }

  test("ProbeSlices.auto adapts stripes to partitions, cores and batch size") {
    // few shards on a wide box: stripes fill it (8 shards, 32 cores -> 8)
    assert(ProbeSlices.auto(8, 32, 500) === 8)
    // shards already cover the cores: tail overlap only
    assert(ProbeSlices.auto(32, 32, 500) === 2)
    // the driver's low-core scaling run: no striping where nothing to fill
    assert(ProbeSlices.auto(8, 4, 500) === 1)
    // tiny batches never split below minPerSlice queries per stripe
    assert(ProbeSlices.auto(8, 32, 20) === 1)
    assert(ProbeSlices.auto(8, 32, 64) === 4)
  }
}
