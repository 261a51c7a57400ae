package graft
package entries

import graft.Gate._
import graft.SparkEntry._
import graft.functions.vectors._
import graft.index._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OOD / index track: exact kNN under every metric and format, the binary
  * and late-interaction tiers, and each index family (IVF, PQ, OPQ, SQ8,
  * HNSW, routed graphs) at its exact-degenerate point beside the recall
  * grader of its real operating point. */
object OodTrack {

  private def pqLossless(s: SparkSession, dir: String, m: Int): Pq.Codebook =
    memo(s, s"pqLossless:$dir:$m") {
      Pq.trainLossless(embBase(s, dir), m)
    }

  private def opqLossless(s: SparkSession, dir: String,
                          m: Int): (Opq.Rotation, Pq.Codebook) =
    memo(s, s"opqLossless:$dir:$m") {
      Opq.trainRotatedLossless(embBase(s, dir), m)
    }

  private def ivfPqResidualLossless(s: SparkSession, dir: String, c: Int,
                                    iters: Int, m: Int): IvfPq.IvfPqIndex =
    memo(s, s"ivfPqResLossless:$dir:$c:$iters:$m") {
      IvfPq.buildResidual(embBase(s, dir), c = c, iters = iters,
        m = m, ksub = 0, lossless = true)
    }

  private def ivf8(s: SparkSession, dir: String): IvfIndex =
    memo(s, s"ivf8:$dir") {
      IvfIndex.build(embBase(s, dir), c = 8, iters = 3)
    }

  /** SQ8 per-dimension train (mins, spans) — shared by the SQ8 recall gates
    * and the IVF×SQ8 rows; one two-pass agg per dir instead of one per
    * gate. */
  private def sq8Train(s: SparkSession, dir: String): (Array[Double], Array[Double]) =
    memo(s, s"sq8Train:$dir") {
      Sq8.train(embBase(s, dir))
    }

  /** Exact kNN ground truth for the recall_* gates, collected ONCE per
    * (dir, metric) into a local relation — ~10 gates grade against the
    * identical brute-force ranking, so each re-run of the join was pure
    * repeat work. Rows (qid, id, rank) are all Recall.perQuery reads. */
  private def exactKnnTruth(s: SparkSession, dir: String,
                            metric: String): DataFrame =
    memo(s, s"knnTruth:$dir:$metric") {
      import s.implicits._
      s.createDataFrame(
        Knn.knnJoin(embQueries(s, dir, 10), embBase(s, dir), 10, metric)
          .select(col("qid").cast("long"), col("id").cast("long"),
            col("rank").cast("long"))
          .as[(Long, Long, Long)].collect().toSeq)
        .toDF("qid", "id", "rank")
    }

  /** One shared persisted HNSW artifact per dir (builds are deterministic,
    * so every gate probing `numPartitions = 8, l2` sees the identical
    * graph the build-per-gate form produced). */
  private def hnswSavedPath(s: SparkSession, dir: String): String =
    memo(s, s"hnswSaved:$dir") {
      val p = tempPath("graft-hnsw-shared", "idx")
      HnswKnn.buildAndSave(embBase(s, dir), p, numPartitions = 8)
      p
    }

  /** Shared resident ip graph over the flat embedding ids (the composite
    * bag encoding doc_id·4 + pos IS the raw id), reused by the three
    * MaxSim gates; session-lifetime, gate corpora are tiny. */
  private def maxsimIpResident(s: SparkSession, dir: String): HnswResident =
    memo(s, s"maxsimIp:$dir") {
      HnswKnn.buildResident(
        embBase(s, dir).select(col("id"), col("vec")),
        numPartitions = 4, metric = "ip")
    }

  /** One shared persisted routed-graph artifact per dir (same argument). */
  private def routedSavedPath(s: SparkSession, dir: String): String =
    memo(s, s"routedSaved:$dir") {
      val p = tempPath("graft-routed-shared", "idx")
      HnswRouted.buildAndSave(embBase(s, dir), p, c = 8, kmIters = 3)
      p
    }

  /** Per-query recall@10 of an approximate path against the memoized exact
    * truth — deterministic (both paths are), but not SQL-expressible →
    * rows-only driver check; thresholds asserted in IndexSpec/PqSpec. */
  private def recall10(s: SparkSession, dir: String, metric: String = Metric.L2)(
      got: (DataFrame, DataFrame) => DataFrame): DataFrame =
    Recall.perQuery(got(embQueries(s, dir, 10), embBase(s, dir)),
      exactKnnTruth(s, dir, metric), 10)

  /** 2-vector query bags over ids < 8 and 4-vector doc bags over the
    * corpus (two query vectors keep the final float sum order-independent
    * → hash-safe cross-engine). */
  private def maxsimBags(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val q = MultiVec.bagged(embBase(s, dir).where(col("id") < 8), bag = 2, "qid")
      .select(col("qid"), col("pos"), col("vec").as("qvec"))
    (q, MultiVec.bagged(embBase(s, dir), bag = 4, "doc_id"))
  }

  /** Load the shared routed artifact, probe it, unload. probeLocal returns
    * a LocalRelation (driver-side rows), so the resident graphs can unload
    * before the result is consumed. */
  private def routedProbe(s: SparkSession, dir: String)(
      probe: HnswRouted => DataFrame): DataFrame = {
    val routed = HnswRouted.loadResident(s, routedSavedPath(s, dir))
    val out = knnResult(probe(routed))
    routed.unload()
    out
  }

  /** The exact-kNN gates' shape: the first 10 embeddings query the whole
    * corpus and the rows are (qid, neighbor_id, rank). */
  private def knn10(s: SparkSession, dir: String)(
      f: (DataFrame, DataFrame) => DataFrame): DataFrame =
    knnResult(f(embQueries(s, dir, 10), embBase(s, dir)))

  /** The first 10 embeddings as a driver-side query batch. */
  private def queryArray(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    ResidentServe.queries(embQueries(s, dir, 10))

  private def rowsFrame(s: SparkSession, rows: Array[(Long, Long, Double, Long)]): DataFrame =
    knnResult(ResidentServe.frame(s, rows))

  private val dotSql = "sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
  // Hamming over sign bits: count of coordinates whose signs disagree —
  // pure integer on both engines, no float accumulation at all
  private val hammingSql = "sum(CASE WHEN (x > 0) <> (y > 0) THEN 1 ELSE 0 END)"
  // MIH candidate rule: the pair shares at least one of the 4 disjoint
  // 16-bit sign substrings (the same boolean-slice equality the Spark side
  // joins on) — deterministic, so the approximate path gets a FULL hash gate
  private val mihChunksSql = (0 until 4).map { c =>
    val lo = c * 16 + 1
    val hi = c * 16 + 16
    s"list_transform(e.embedding[$lo:$hi], v -> v > 0) = " +
      s"list_transform(q.qv[$lo:$hi], v -> v > 0)"
  }.mkString("(", " OR ", ")")
  // u8bin quantization: clamp(floor(x*10)+128, 0, 255) per component
  private val u8bin = "CAST(least(greatest(floor(CAST(x AS DOUBLE) * 10) + 128, 0), 255) AS SHORT)"

  val table: Seq[Entry] = Seq(
    // J1+J5: exact brute-force L2 top-k join (ood/filter exact path).
    Entry("knn_l2", (s, dir) => knn10(s, dir)(Knn.knnJoin(_, _, 10, Metric.L2)),
      Oracle(knnOracle(10, 10, l2Sql, "ASC"))),
    // exact range search (faiss range_search shape): data-dependent answer
    // size, filter evaluated on the scored join, no top-k state. The
    // boundary compare is safe cross-engine because both engines compute
    // the identical double sum (the rank gates already prove bit-equality).
    Entry("knn_range", (s, dir) =>
      knn10(s, dir)(Knn.rangeJoin(_, _, radius = 1.5, Metric.L2)),
      // range search: all rows within squared-L2 1.5, ranked per query
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |pairs AS (SELECT q.qid, e.vec_id AS nid,
           |                 unnest(e.embedding) AS x, unnest(q.qv) AS y
           |          FROM embeddings e CROSS JOIN q),
           |scored AS (SELECT qid, nid, $l2Sql AS d FROM pairs GROUP BY qid, nid)
           |SELECT qid, nid AS neighbor_id,
           |       row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid) AS rank
           |FROM scored WHERE d <= 1.5
           |""".stripMargin)),
    // binary sign-hash track (faiss IndexBinaryFlat semantics over sign
    // codes): pack once, XOR+popcount per pair — pure integer, oracle-exact
    Entry("knn_hamming", (s, dir) => knn10(s, dir)(Knn.knnHamming(_, _, 10)),
      Oracle(knnOracle(10, 10, hammingSql, "ASC"))),
    // multi-index hashing (Norouzi CVPR'12): candidates = equi-join on any
    // of the 4 disjoint 16-bit substrings (pigeonhole-complete for Hamming
    // radius ≤ 3), exact popcount re-rank. Deterministic candidate rule, so
    // the oracle replicates it and the gate is a full hash gate.
    Entry("knn_hamming_mih", (s, dir) => knn10(s, dir)(Knn.knnHammingMih(_, _, 10)),
      Oracle(knnOracle(10, 10, hammingSql, "ASC", filterSql = mihChunksSql))),
    // two-tier binary→float retrieval: Hamming top-50 candidates, exact L2
    // re-rank — the deterministic selection rule makes the FULL composition
    // a hash gate (oracle replicates both tiers)
    Entry("knn_hamming_rerank", (s, dir) =>
      knn10(s, dir)(Knn.knnHammingRerank(_, _, k = 10, c = 50)),
      // both tiers replicated: Hamming top-50 (hd asc, nid asc), then L2
      // re-rank of exactly those candidates
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |pairs AS (SELECT q.qid, e.vec_id AS nid,
           |                 unnest(e.embedding) AS x, unnest(q.qv) AS y
           |          FROM embeddings e CROSS JOIN q),
           |scored AS (SELECT qid, nid, $hammingSql AS hd, $l2Sql AS fd
           |           FROM pairs GROUP BY qid, nid),
           |cand AS (SELECT qid, nid, fd,
           |                row_number() OVER (PARTITION BY qid ORDER BY hd ASC, nid) AS hr
           |         FROM scored),
           |ranked AS (SELECT qid, nid,
           |                  row_number() OVER (PARTITION BY qid ORDER BY fd ASC, nid) AS rank
           |           FROM cand WHERE hr <= 50)
           |SELECT qid, nid AS neighbor_id, rank FROM ranked WHERE rank <= 10
           |""".stripMargin)),
    // exact Hamming range search through the MIH bucket join (complete by
    // pigeonhole for radius < #chunks). Queries are sign-perturbed copies
    // (3 flips spanning 3 chunks) so the radius set is non-trivial; the
    // ORACLE is the plain all-pairs range answer with NO candidate rule —
    // green means the bucket join provably missed nothing.
    Entry("knn_hamming_range", (s, dir) => {
      val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), (v, i) =>
            when(i === 0 || i === 21 || i === 43, -v).otherwise(v)).as("qvec"))
      knnResult(Knn.hammingRange(q, embBase(s, dir), radius = 3))
    },
      // all-pairs range truth — deliberately NOT the MIH candidate rule, so
      // this gate also proves pigeonhole completeness of the bucket join
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid,
           |             [-embedding[1]] || embedding[2:21] || [-embedding[22]]
           |               || embedding[23:43] || [-embedding[44]]
           |               || embedding[45:64] AS qv
           |           FROM embeddings WHERE vec_id < 10),
           |pairs AS (SELECT q.qid, e.vec_id AS nid,
           |                 unnest(e.embedding) AS x, unnest(q.qv) AS y
           |          FROM embeddings e CROSS JOIN q),
           |scored AS (SELECT qid, nid, $hammingSql AS d FROM pairs GROUP BY qid, nid)
           |SELECT qid, nid AS neighbor_id,
           |       row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid) AS rank
           |FROM scored WHERE d <= 3
           |""".stripMargin)),
    // the binary tier's resident serving form — same rows as knn_hamming
    Entry("knn_hamming_served", (s, dir) => {
      val served = ResidentCodes.loadHamming(embBase(s, dir), numPartitions = 4)
      try knnResult(served.probeLocalCodes(embQueries(s, dir, 10), 10))
      finally served.unload()
    }, SameOracleAs("knn_hamming")),
    // binary kind through the unified registry: build → save → load →
    // probe with the rerank budget covering the corpus = exact float kNN
    Entry("ann_binary_persisted_exact", (s, dir) => {
      val b = embBase(s, dir)
      val n = b.count().toInt // rerank = |base| → every row re-ranks, exact
      val path = tempPath("graft-bin", "idx")
      VectorIndex.binary(b, rerank = n).save(path)
      knnResult(VectorIndex.load(s, path, rerank = n)
        .probe(embQueries(s, dir, 10), 10))
    }, SameOracleAs("knn_l2")),
    // binary IVF (faiss IndexBinaryIVF shape): Hamming-majority centroids
    // route queries; at nprobe = C every cluster scans → exact brute
    // Hamming, whatever the clustering did (knn_hamming's oracle)
    Entry("ann_hamming_ivf_exact", (s, dir) => knn10(s, dir) { (q, b) =>
      BinaryIvf.probe(BinaryIvf.build(b, c = 8, iters = 3), q, 10, nprobe = 8)
    }, SameOracleAs("knn_hamming")),
    // the two-tier resident form at its degenerate point: the per-shard
    // rerank budget covers every row → exact float kNN (knn_l2's oracle)
    Entry("knn_hamming_rerank_served_exact", (s, dir) => {
      val served = ResidentCodes.loadHamming(embBase(s, dir),
        numPartitions = 4, pinFloats = true)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10,
        rerank = Int.MaxValue))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // late-interaction (ColBERT maxsim) retrieval over synthetic bags:
    // 4-vector docs, 2-vector queries.
    Entry("knn_maxsim", (s, dir) => {
      val (q, b) = maxsimBags(s, dir)
      MultiVec.maxSimJoin(q, b, k = 10)
        .select(col("qid"), col("doc_id"), col("rank"))
    },
      // late-interaction maxsim: per-(qvec, dvec) dot → max per doc → sum of
      // the two query-vector maxima → rank desc
      Oracle(
        """WITH q AS (SELECT vec_id // 2 AS qid, vec_id AS qvid, embedding AS qv
          |           FROM embeddings WHERE vec_id < 8),
          |b AS (SELECT vec_id // 4 AS doc_id, vec_id AS bvid, embedding AS bv
          |      FROM embeddings),
          |pairs AS (SELECT q.qid, q.qvid, b.doc_id, b.bvid,
          |                 unnest(b.bv) AS x, unnest(q.qv) AS y
          |          FROM b CROSS JOIN q),
          |dots AS (SELECT qid, qvid, doc_id, bvid,
          |                sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
          |         FROM pairs GROUP BY 1, 2, 3, 4),
          |best AS (SELECT qid, qvid, doc_id, max(dot) AS m FROM dots GROUP BY 1, 2, 3),
          |score AS (SELECT qid, doc_id, sum(m) AS s FROM best GROUP BY 1, 2),
          |ranked AS (SELECT qid, doc_id,
          |                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS rank
          |           FROM score)
          |SELECT qid, doc_id, rank FROM ranked WHERE rank <= 10
          |""".stripMargin)),
    // the PLAID-style serving path at its degenerate point: candidate
    // generation through the ip graph with c = every vector + exhaustive
    // beam makes every doc a candidate, so the ANN composition reproduces
    // the exact maxsim ranking — same oracle as knn_maxsim.
    Entry("knn_maxsim_ann_exact", (s, dir) => {
      val (q, b) = maxsimBags(s, dir)
      val n = embBase(s, dir).count().toInt
      MultiVec.maxSimAnn(q, b, k = 10, c = n, efSearch = 1 << 20,
        prebuilt = Some(maxsimIpResident(s, dir)), bagDims = Some((2, 4)))
        .select(col("qid"), col("doc_id"), col("rank"))
    }, SameOracleAs("knn_maxsim")),
    // the hits-only SERVING reduce (MaxSimServe) at its degenerate point,
    // routed through the DISTRIBUTED regime (treeAt = 1): with c = every
    // vector and an exhaustive beam each query vector's hit set covers the
    // whole corpus, so the two-stage RDD reduce (global top-c per vector →
    // per-(query,doc) max → qpos-ordered sum → bounded top-k) reproduces
    // exact maxsim — the distributed serving dataflow itself gets the full
    // DuckDB hash gate, not just the regime-parity spec.
    Entry("knn_maxsim_served_exact", (s, dir) => {
      import s.implicits._
      val flat = embBase(s, dir).select(col("id"), col("vec"))
      val n = flat.count().toInt
      val resident = maxsimIpResident(s, dir) // session-shared, not unloaded
      val qs = flat.where(col("id") < 8)
        .select(col("id").cast("long"), col("vec"))
        .as[(Long, Array[Float])].collect()
      val rows = MaxSimServe.probeBatch(resident, qs,
        qmax = 2, bmax = 4, k = 10, c = n, efSearch = 1 << 20, treeAt = 1)
      s.createDataFrame(rows.toSeq).toDF("qid", "doc_id", "dist", "rank")
        .select(col("qid"), col("doc_id"), col("rank"))
    }, SameOracleAs("knn_maxsim")),
    // the same composition at a real operating point (c = 32 vector hits
    // per query vector, beam 64) — approximate → rows-only driver check;
    // recall vs exact maxsim is KnnSpec-gated ≥ 0.9.
    Entry("knn_maxsim_ann", (s, dir) => {
      val (q, b) = maxsimBags(s, dir)
      MultiVec.maxSimAnn(q, b, k = 10, c = 32, efSearch = 64,
        prebuilt = Some(maxsimIpResident(s, dir)), bagDims = Some((2, 4)))
        .select(col("qid"), col("doc_id"), col("rank"))
    }, GradedBy("knn_maxsim_ann_exact")),

    // J6-style dense MIPS top-k.
    Entry("knn_ip", (s, dir) => knn10(s, dir)(Knn.knnJoin(_, _, 10, Metric.Ip)),
      Oracle(knnOracle(10, 10, dotSql, "DESC"))),
    // F6: cosine top-k (normalize-then-ip semantics of the reference's float
    // path; we compute cosine directly — bindings.cpp:1114-1121).
    Entry("knn_cos", (s, dir) => knn10(s, dir)(Knn.knnJoin(_, _, 10, Metric.Cosine)),
      Oracle(knnOracle(10, 10,
        """sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          | / sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
          |      * sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))""".stripMargin, "DESC"))),
    // F1: uint8-style integer L2 — vectors quantized to ARRAY<SHORT>, pure
    // integer distance accumulation (long), zero float rounding anywhere.
    Entry("knn_l2_u8", (s, dir) => {
      val q = embQueries(s, dir, 10).withColumn("qvec8", u8Expr("qvec"))
      val b = embBase(s, dir).withColumn("vec8", u8Expr("vec"))
      val scored = b.crossJoin(broadcast(q))
        .withColumn("dist", vecL2SqInt(col("qvec8"), col("vec8")).cast("double"))
      knnResult(TopK.aggTopK(scored, "qid", "id", "dist", 10))
    },
      // integer quantized L2: floor(x*10) per component, exact integer sums
      Oracle(knnOracle(10, 10, u8L2Sql, "ASC"))),
    // S5/S6 float path: embeddings exported as .fbin (the reference's
    // float32 dense layout), re-ingested by the range-split reader, exact
    // L2 kNN — float32 round-trips bit-exactly, so the knn_l2 oracle gates
    // the format end-to-end.
    Entry("knn_l2_fbin", (s, dir) => {
      val path = tempPath("graft-f32", "base.fbin")
      graft.sources.BinaryFormats.writeDenseF32(embBase(s, dir), "id", "vec", path)
      val base = graft.sources.BinaryFormats.readDenseF32(s, path, numPartitions = 8)
      knnResult(Knn.knnJoin(embQueries(s, dir, 10), base, 10, Metric.L2))
    }, SameOracleAs("knn_l2")),
    // S6-u8/F1 end-to-end: embeddings quantized to uint8, exported as the
    // reference's .u8bin layout (yfcc-10M's native dtype), re-ingested by
    // the range-split binary reader, then pure-integer L2 kNN — proves the
    // reference's flagship dataset format round-trips without conversion.
    Entry("knn_l2_u8bin", (s, dir) => {
      val b8 = embBase(s, dir)
        .withColumn("vec8", expr(s"transform(vec, x -> $u8bin)"))
        .select("id", "vec8")
      val path = tempPath("graft-u8", "base.u8bin")
      graft.sources.BinaryFormats.writeDenseU8(b8, "id", "vec8", path)
      val base = graft.sources.BinaryFormats.readDenseU8(s, path, numPartitions = 8)
      val q = embQueries(s, dir, 10)
        .withColumn("qvec8", expr(s"transform(qvec, x -> $u8bin)"))
      val scored = base.crossJoin(broadcast(q))
        .withColumn("dist", vecL2SqInt(col("qvec8"), col("vec")).cast("double"))
      knnResult(TopK.aggTopK(scored, "qid", "id", "dist", 10))
    },
      // u8bin round-trip: clamp(floor(x*10)+128, 0, 255) per component, exact
      // integer L2 — quantization identical on both sides, zero float hazard
      Oracle(knnOracle(10, 10,
        """sum((CAST(least(greatest(floor(CAST(x AS DOUBLE) * 10) + 128, 0), 255) AS BIGINT)
          |    - CAST(least(greatest(floor(CAST(y AS DOUBLE) * 10) + 128, 0), 255) AS BIGINT))
          |  * (CAST(least(greatest(floor(CAST(x AS DOUBLE) * 10) + 128, 0), 255) AS BIGINT)
          |    - CAST(least(greatest(floor(CAST(y AS DOUBLE) * 10) + 128, 0), 255) AS BIGINT)))""".stripMargin,
        "ASC"))),
    // F5: ‖x‖²−2x·q monotone-L2 rewrite — must return exactly knn_l2's ids
    // (tie-break caveat: ‖x‖²−2x·q ranks identically to L2 for distinct
    // distances).
    Entry("knn_norm_trick", (s, dir) => knn10(s, dir) { (q, b) =>
      val scored = b.withColumn("norm2", vecNorm2(col("vec"))).crossJoin(broadcast(q))
        .withColumn("dist", col("norm2") - lit(2.0) * vecDot(col("vec"), col("qvec")))
      TopK.aggTopK(scored, "qid", "id", "dist", 10)
    }, SameOracleAs("knn_l2")),

    // -- index layer ---------------------------------------------------------
    // A5 cluster histogram: per-cluster counts + contiguous-layout offsets.
    // iters=0 + seedLowId pins centroids to the 8 lowest-id rows, so the
    // assignment is SQL-expressible and the histogram stays exactly
    // oracle-checkable (the production default is deterministic k-means++,
    // whose exponential-race seeds a SQL oracle can't reproduce).
    Entry("ann_ivf_hist", (s, dir) => {
      val b = embBase(s, dir)
      val cents = KMeans.fit(b, c = 8, iters = 0, seedLowId = true)
      ClusterHistogram.histogram(KMeans.assign(b, cents))
    }, Oracle(
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
        |pairs AS (SELECT e.vec_id AS id, c.cid,
        |                 unnest(e.embedding) AS x, unnest(c.cvec) AS y
        |          FROM embeddings e CROSS JOIN c),
        |d AS (SELECT id, cid,
        |             sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))) AS dd
        |      FROM pairs GROUP BY 1, 2),
        |best AS (SELECT id, cid
        |         FROM (SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY dd, cid) AS rn FROM d)
        |         WHERE rn = 1),
        |cnts AS (SELECT cid, CAST(count(*) AS BIGINT) AS cnt FROM best GROUP BY cid)
        |SELECT cid, cnt,
        |       CAST(sum(cnt) OVER (ORDER BY cid ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT) AS offset
        |FROM cnts
        |""".stripMargin)),
    // IVF probed exhaustively (nprobe = C) is exact → hash-checked oracle.
    Entry("ann_ivf", (s, dir) => knn10(s, dir)(ivf8(s, dir).probe(_, _, k = 10, nprobe = 8)),
      SameOracleAs("knn_l2")),
    // IVF under max-inner-product (the OOD composition): centroid routing
    // and cluster scan both rank by negated dot; nprobe = C is exhaustive,
    // so this is hash-checked against the exact MIPS oracle.
    Entry("ann_ivf_ip", (s, dir) =>
      knn10(s, dir)(ivf8(s, dir).probe(_, _, k = 10, nprobe = 8, metric = Metric.Ip)),
      SameOracleAs("knn_ip")),
    // save → load → exhaustive probe: persistence must not change results,
    // so this stays hash-checked against the exact oracle (S7/X4 analog).
    Entry("ann_ivf_persisted", (s, dir) => {
      val path = tempPath("graft-ivf", "idx")
      IvfIndex.save(ivf8(s, dir), path)
      knn10(s, dir)(IvfIndex.load(s, path).probe(_, _, k = 10, nprobe = 8))
    }, SameOracleAs("knn_l2")),
    // recall@10 of the approximate paths vs exact brute force, per query.
    Entry("recall_ivf_partial", (s, dir) =>
      recall10(s, dir)(ivf8(s, dir).probe(_, _, k = 10, nprobe = 2)),
      GradedBy("ann_ivf")),
    Entry("recall_sq8", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      recall10(s, dir)(Sq8.knnSq8(_, _, k = 10, rerank = 40, mins, spans))
    }, GradedBy("ann_sq8_exact")),
    // the SQ8 scan at its exact-degenerate point: rerank = n pushes every
    // row through the exact float re-rank, so quantization error cannot
    // perturb the result (knn_l2's oracle)
    Entry("ann_sq8_exact", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      knn10(s, dir)((q, b) => Sq8.knnSq8(q, b, k = 10, rerank = b.count().toInt, mins, spans))
    }, SameOracleAs("knn_l2")),
    // the reference baseline's composition (IVF coarse route × SQ8 integer
    // scan × exact rerank, config.yaml:50-53) — recall-graded, rows-only.
    // Both trains come from the session fixture cache (ivf8 + sq8Train):
    // identical parameters to the per-gate build, one train per dir.
    Entry("recall_ivf_sq8", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      recall10(s, dir)(IvfSq8.knnWith(ivf8(s, dir), _, _, k = 10,
        nprobe = 4, rerank = 40, mins, spans))
    }, GradedBy("ann_ivf_sq8_exact")),
    // the same composition at nprobe = C and rerank = n: every cluster
    // scans and every row re-ranks exactly (knn_l2's oracle)
    Entry("ann_ivf_sq8_exact", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      knn10(s, dir)((q, b) => IvfSq8.knnWith(ivf8(s, dir), q, b, k = 10,
        nprobe = 8, rerank = b.count().toInt, mins, spans))
    }, SameOracleAs("knn_l2")),
    // PQ-ADC at its exact-degenerate point (lossless codebook: every
    // distinct subvector a centroid → zero quantization error, ADC = exact
    // squared L2) — hash-checked against the brute-force oracle, gating the
    // encode → LUT → gather-scan → exact-re-rank dataflow end to end. Same
    // technique as nprobe = C and ef ≥ partition size.
    Entry("ann_pq_exact", (s, dir) =>
      knn10(s, dir)(Pq.adcKnn(_, _, pqLossless(s, dir, 4), k = 10, rerank = 20)),
      SameOracleAs("knn_l2")),
    // OPQ-style rotated PQ (Ge et al. CVPR'13 eigenvalue allocation) at its
    // exact-degenerate point: the ADC scan runs in PCA-rotated space, the
    // re-rank recomputes original-space distances, and the lossless rotated
    // codebook makes the rotated scan exact — so the top-k hash-matches the
    // same brute-force oracle as knn_l2. Gates the covariance pass, the
    // driver-local eigendecomposition, the allocator, and the rotated
    // encode/LUT plumbing end to end; the recall BENEFIT of rotation on a
    // correlated corpus is OpqSpec's job (this synthetic corpus is
    // near-uniform, where rotation is a no-op by design).
    Entry("ann_opq_exact", (s, dir) => {
      val (rot, cb) = opqLossless(s, dir, 4)
      knn10(s, dir)(Opq.adcKnnRotated(_, _, rot, cb, k = 10, rerank = 20))
    }, SameOracleAs("knn_l2")),
    // the same construction under max-inner-product: an orthonormal
    // rotation preserves dot products, so the rotated ip LUT + lossless
    // codebook reproduces exact MIPS (same oracle as knn_ip).
    Entry("ann_opq_ip_exact", (s, dir) => {
      val (rot, cb) = opqLossless(s, dir, 4)
      knn10(s, dir)(Opq.adcKnnRotated(_, _, rot, cb, k = 10, rerank = 20,
        metric = Metric.Ip))
    }, SameOracleAs("knn_ip")),
    // the resident-ADC serving form at its exact-degenerate point: lossless
    // codebook ⇒ the pinned-code gather-scan is exact squared-L2 and the
    // served batch hash-matches brute force — the serving twin of
    // ann_pq_exact (codes in memory, floats touched only by the re-rank).
    Entry("ann_pq_served_exact", (s, dir) => {
      val served = ResidentCodes.loadAdc(embBase(s, dir), pqLossless(s, dir, 4),
        numPartitions = 4)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10, rerank = 20))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // the OPQ rotation served resident: shards hold rotated codes + the
    // ORIGINAL floats, probes build rotated LUTs and re-rank original-space
    // — lossless rotated codebook ⇒ hash-matches brute force (the same
    // degenerate-point contract as ann_pq_served_exact, with the rotation
    // plumbing in the loop).
    Entry("ann_opq_served_exact", (s, dir) => {
      val (rot, cb) = opqLossless(s, dir, 4)
      val served = ResidentCodes.loadAdcRotated(embBase(s, dir), rot, cb,
        numPartitions = 4)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10, rerank = 20))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // the reference BASELINE's full composition (IVF coarse route × in-RAM
    // codes × float refine, config.yaml:50-53) served resident, at its
    // exact-degenerate point: nprobe = C scans every cluster, the lossless
    // codebook makes ADC exact — hash-matches brute force end to end.
    Entry("ann_ivfadc_served_exact", (s, dir) => {
      val served = ResidentCodes.loadIvfAdc(embBase(s, dir), ivf8(s, dir),
        pqLossless(s, dir, 4), numPartitions = 4)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10,
        nprobe = served.numClusters, rerank = 20))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // faiss's true IVFPQ (codes quantize the residual against the routed
    // centroid) served resident, at ITS exact-degenerate point: lossless
    // residual codebook + nprobe = C + per-(query, cluster) LUTs → the
    // served batch hash-matches brute force. Gates the residual LUT
    // plumbing of the resident form end to end; reuses the built index's
    // codes (loading is a join, not a re-encode).
    Entry("ann_ivfadc_residual_served_exact", (s, dir) => {
      val idx = ivfPqResidualLossless(s, dir, c = 8, iters = 3, m = 4)
      val served = ResidentCodes.loadIvfResidual(embBase(s, dir), idx,
        numPartitions = 4)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10,
        nprobe = served.numClusters, rerank = 20))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // the reference baseline's LITERAL composition (`IVF16384,SQ8`,
    // config.yaml:50-53) served resident, at its exact-degenerate point:
    // nprobe = C scans every cluster and rerank = n pushes every row
    // through the exact float re-rank, so scalar-quantization error cannot
    // perturb the result — hash-matches brute force end to end. Gates the
    // client-side encode parity (encode() ≡ Sq8.encodeCol), the routed
    // integer scan, and the refine dataflow of the resident form.
    Entry("ann_ivfsq8_served_exact", (s, dir) => {
      val b = embBase(s, dir)
      val (mins, spans) = sq8Train(s, dir)
      val served = ResidentCodes.loadIvfSq8(b, ivf8(s, dir), mins, spans,
        numPartitions = 4)
      try knnResult(served.probeLocal(embQueries(s, dir, 10), 10,
        nprobe = served.numClusters, rerank = b.count().toInt))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // mass-adaptive routing (the corpus-fraction knob that replaces a
    // fixed nprobe at scale — CoarseRouter.byMass) at ITS exact-degenerate
    // point: minMass = 1.0 walks every cluster and rerank = n floats every
    // row through the exact refine → hash-matches brute force. Routing is
    // forced SHARD-SIDE, so the large-C serving path (each shard routes
    // the broadcast queries itself) is what the oracle hashes;
    // client-side parity is IndexSpec-asserted.
    Entry("ann_ivfsq8_mass_exact", (s, dir) => {
      val b = embBase(s, dir)
      val (mins, spans) = sq8Train(s, dir)
      val served = ResidentCodes.loadIvfSq8(b, ivf8(s, dir), mins, spans,
        numPartitions = 4)
      try rowsFrame(s, served.probeBatchMass(queryArray(s, dir), 10,
        minMass = 1.0, rerank = b.count().toInt, shardRoute = Some(true)))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // graph-routed coarse quantizer (HNSW over the centroids — faiss's
    // IVF_HNSW shape, the O(log C) router the 100 TB regime needs once
    // autoC ~ 4*sqrt(n) reaches the hundreds of thousands) at ITS
    // exact-degenerate point: efRoute = C serves the ranking by the exact
    // linear rank (HnswIndex answers ef >= size with a true exact scan),
    // so minMass = 1.0 + rerank = n still hash-matches brute force through
    // the efRoute-threaded shard-side path. Pruned-beam behavior (the
    // genuinely approximate regime) is IndexSpec-gated: shard/client row
    // identity and recall within eps of the linear rank.
    Entry("ann_ivfsq8_graphroute_exact", (s, dir) => {
      val b = embBase(s, dir)
      val (mins, spans) = sq8Train(s, dir)
      val served = ResidentCodes.loadIvfSq8(b, IvfIndex.build(b, c = 64, iters = 2),
        mins, spans, numPartitions = 4)
      try rowsFrame(s, served.probeBatchMass(queryArray(s, dir), 10,
        minMass = 1.0, rerank = b.count().toInt, shardRoute = Some(true),
        efRoute = served.numClusters))
      finally served.unload()
    }, SameOracleAs("knn_l2")),
    // save → load → probe through the VectorIndex registry with the
    // lossless codebook: persistence must not change the exact result
    // (S7/X4 parity, same contract as ann_ivf_persisted).
    Entry("ann_pq_persisted_exact", (s, dir) => {
      val b = embBase(s, dir)
      val cb = pqLossless(s, dir, 4)
      val path = tempPath("graft-pq", "idx")
      new PqVectorIndex(s, cb, Pq.encode(b, cb).select("id", "codes"), b,
        rerank = 20).save(path)
      knnResult(VectorIndex.load(s, path, rerank = 20)
        .probe(embQueries(s, dir, 10), 10))
    }, SameOracleAs("knn_l2")),
    // the OPQ family through the registry: rotation + codebook + rotated
    // codes saved, reloaded by kind dispatch, probed — persistence must not
    // change the exact result (S7/X4 parity, same contract as the pq row).
    Entry("ann_opq_persisted_exact", (s, dir) => {
      val b = embBase(s, dir)
      val (rot, cb) = opqLossless(s, dir, 4)
      val rotated = b.select(col("id"), Opq.rotateCol(rot, col("vec")).as("vec"))
      val path = tempPath("graft-opq", "idx")
      new OpqVectorIndex(s, rot, cb,
        Pq.encode(rotated, cb).select("id", "codes"), b, rerank = 20).save(path)
      knnResult(VectorIndex.load(s, path, rerank = 20)
        .probe(embQueries(s, dir, 10), 10))
    }, SameOracleAs("knn_l2")),
    // PQ at a real operating point (m=8 × ksub=32 codebooks, 3 Lloyd
    // iters, exact re-rank of 100) — recall-graded rows-only; the threshold
    // is asserted in PqSpec. These near-uniform synthetic embeddings are
    // PQ's worst case (no cluster structure to quantize onto), so the
    // re-rank pool carries more of the recall than it would on a real
    // embedding corpus — same caveat as the routed-graph bench row.
    Entry("recall_pq", (s, dir) => recall10(s, dir) { (q, b) =>
      Pq.adcKnn(q, b, Pq.train(b, m = 8, ksub = 32, iters = 3), k = 10, rerank = 100)
    }, GradedBy("ann_pq_exact")),
    // trained OPQ at the same (m, ksub, rerank) budget as recall_pq — the
    // two reports side by side show what the rotation buys on THIS corpus
    // (near-uniform synthetic: little; OpqSpec's correlated corpus: a lot)
    Entry("recall_opq", (s, dir) => recall10(s, dir) { (q, b) =>
      val (rot, cb) = Opq.trainRotated(b, m = 8, ksub = 32, iters = 3)
      Opq.adcKnnRotated(q, b, rot, cb, k = 10, rerank = 100)
    }, GradedBy("ann_opq_exact")),
    // residual-encoded IVF-PQ (faiss's true IVFPQ: codes quantize the
    // residual against the routed centroid) probed exhaustively with a
    // lossless residual codebook — ‖(q−c)−(x−c)‖ = ‖q−x‖, so this is
    // hash-checked against the exact L2 oracle; gates the per-route LUT /
    // cid-joined scan dataflow end to end.
    Entry("ann_ivfpq_residual_exact", (s, dir) => knn10(s, dir) { (q, b) =>
      IvfPq.knnResidual(q, b, k = 10, c = 8, iters = 2, nprobe = 8, m = 4,
        ksub = 0, rerank = b.count().toInt, lossless = true)
    }, SameOracleAs("knn_l2")),
    // faiss's full OPQ...IVFPQ chain (OPQ pre-transform, then IVF + residual
    // codes IN THE ROTATED SPACE) at its degenerate point: the rotated
    // residual probe supplies candidates, the final re-rank recomputes
    // ORIGINAL-space distances, and with a lossless residual codebook +
    // nprobe = C the top-k hash-matches the brute-force oracle. Gates the
    // three-stage composition (rotate → route → residual-code) end to end.
    Entry("ann_opq_ivfpq_exact", (s, dir) => knn10(s, dir) { (q, b) =>
      val rot = Opq.trainRotation(b, m = 4)
      val rbase = b.select(col("id"), Opq.rotateCol(rot, col("vec")).as("vec"))
      val rq = q.select(col("qid"), Opq.rotateCol(rot, col("qvec")).as("qvec"))
      val idx = IvfPq.buildResidual(rbase, c = 8, iters = 2,
        m = 4, ksub = 0, lossless = true)
      val cand = idx.probe(rq, rbase, k = 20, nprobe = 8, rerank = 20)
        .select("qid", "id")
      val exact = cand
        .join(b.select(col("id"), col("vec")), "id")
        .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
        .withColumn("dist", Metric.distColumn(Metric.L2, col("qvec"), col("vec")))
      TopK.aggTopK(exact, "qid", "id", "dist", 10)
    }, SameOracleAs("knn_l2")),
    // the residual composition persisted and reloaded through the registry
    // (S7 parity for IVFPQ): persistence must not change the exact result.
    Entry("ann_ivfpq_persisted_exact", (s, dir) => {
      val b = embBase(s, dir)
      val n = b.count().toInt
      val idx = IvfPq.buildResidual(b, c = 8, iters = 2, m = 4,
        ksub = 0, lossless = true)
      val path = tempPath("graft-ivfpq", "idx")
      new IvfPqVectorIndex(idx, b, nprobe = 8, rerank = n).save(path)
      knnResult(VectorIndex.load(s, path, nprobe = 8, rerank = n)
        .probe(embQueries(s, dir, 10), 10))
    }, SameOracleAs("knn_l2")),
    // residual IVF-PQ at a real operating point — recall-graded rows-only.
    Entry("recall_ivfpq_residual", (s, dir) => recall10(s, dir)(
      IvfPq.knnResidual(_, _, k = 10, c = 8, iters = 3, nprobe = 6, m = 8,
        ksub = 32, rerank = 100)), GradedBy("ann_ivfpq_residual_exact")),
    // faiss's IVFx,PQy composition: coarse route bounds scan volume, PQ
    // codes bound scan width, exact re-rank restores recall from both.
    Entry("recall_ivfpq", (s, dir) => recall10(s, dir)(
      IvfPq.knn(_, _, k = 10, c = 8, iters = 3, nprobe = 6, m = 8, ksub = 32,
        rerank = 100)), GradedBy("ann_ivfpq_exact")),
    // the same route-and-code path at its exact-degenerate point: a
    // lossless codebook, nprobe = C and rerank = n reproduce brute force
    // (the IvfPq contract; knn_l2's oracle)
    Entry("ann_ivfpq_exact", (s, dir) => knn10(s, dir) { (q, b) =>
      IvfPq.knnWith(ivf8(s, dir), pqLossless(s, dir, 4), q, b, k = 10,
        nprobe = 8, rerank = b.count().toInt)
    }, SameOracleAs("knn_l2")),
    Entry("recall_hnsw", (s, dir) => recall10(s, dir)(
      HnswKnn.knn(_, _, k = 10, efSearch = 128, numPartitions = 8)),
      GradedBy("ann_hnsw_exact")),
    // SQ8-coded graph + exact re-rank (the reference's uint8-arena memory
    // model, hnswalg.h:132-136): integer traversal distances over a 4×
    // smaller resident graph; recall-graded rows-only.
    Entry("recall_hnsw_sq8", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      recall10(s, dir)(HnswKnn.knnSq8(_, _, k = 10, rerank = 40,
        mins, spans, efSearch = 128, numPartitions = 8))
    }, GradedBy("ann_hnsw_sq8_exact")),
    // the SQ8 graph at the exhaustive beam with rerank = n: every row
    // reaches the exact float re-rank (knn_l2's oracle)
    Entry("ann_hnsw_sq8_exact", (s, dir) => {
      val (mins, spans) = sq8Train(s, dir)
      knn10(s, dir)((q, b) => HnswKnn.knnSq8(q, b, k = 10, rerank = b.count().toInt,
        mins, spans, efSearch = 1 << 20, numPartitions = 8))
    }, SameOracleAs("knn_l2")),
    // ip-metric graph ANN — the OOD track's flagship max-inner-product
    // search (text2image semantics, the reference's ood/base.py:3,
    // ood/diskann/diskann-in-mem.py:48-56) on the graph path; recall
    // graded against exact brute-force MIPS.
    Entry("recall_hnsw_ip", (s, dir) => recall10(s, dir, Metric.Ip)(
      HnswKnn.knn(_, _, k = 10, efSearch = 128, numPartitions = 8,
        metric = Metric.Ip)), GradedBy("ann_hnsw_ip_exact")),
    // the ip graph at the exhaustive beam: exact MIPS (knn_ip's oracle)
    Entry("ann_hnsw_ip_exact", (s, dir) => knn10(s, dir)(
      HnswKnn.knn(_, _, k = 10, efSearch = 1 << 20, numPartitions = 8,
        metric = Metric.Ip)), SameOracleAs("knn_ip")),
    // HNSW is approximate → rows-only driver check; recall graded in tests.
    Entry("ann_hnsw", (s, dir) =>
      knn10(s, dir)(HnswKnn.knn(_, _, k = 10, efSearch = 128, numPartitions = 8)),
      GradedBy("ann_hnsw_exact")),
    // ef ≥ partition size degenerates the beam search to an exhaustive
    // scan of each partition graph, so the graph PATH gets a hash-checked
    // gate against the exact L2 oracle — the same degenerate-point
    // technique as IVF probed at nprobe = C.
    Entry("ann_hnsw_exact", (s, dir) =>
      knn10(s, dir)(HnswKnn.knn(_, _, k = 10, efSearch = 1 << 20, numPartitions = 8)),
      SameOracleAs("knn_l2")),
    // cosine ANN = ip graph over unit-normalized vectors + exact cosine
    // re-rank on the originals; at the exhaustive beam this hash-matches
    // the brute-force cosine oracle (same oracle as knn_cos) — the graph
    // family now serves all three metrics (l2 / ip / cosine).
    Entry("ann_hnsw_cos_exact", (s, dir) => knn10(s, dir)(
      HnswKnn.knnCosine(_, _, k = 10, efSearch = 1 << 20, numPartitions = 8)),
      SameOracleAs("knn_cos")),
    // S7/X4: build → save → load → probe. Deterministic builds (id-sorted
    // partitions) make the persisted probe equal the in-memory path exactly
    // (asserted in IndexSpec); rows-only driver check (approximate path).
    Entry("ann_hnsw_persisted", (s, dir) =>
      knnResult(HnswKnn.probeSaved(s, hnswSavedPath(s, dir),
        embQueries(s, dir, 10), k = 10, efSearch = 128)),
      GradedBy("ann_hnsw_persisted_exact")),
    // persisted graph probed at the exact-degenerate beam: save/load must
    // not change the exhaustive result → hash-checked vs the L2 oracle.
    Entry("ann_hnsw_persisted_exact", (s, dir) =>
      knnResult(HnswKnn.probeSaved(s, hnswSavedPath(s, dir),
        embQueries(s, dir, 10), k = 10, efSearch = 1 << 20)),
      SameOracleAs("knn_l2")),
    // tombstone-aware probe at the exact beam: ids [0,5) deleted IN-
    // TRAVERSAL; the oracle simply excludes them — the lazy-delete
    // semantics (DELETE_MARK) get a hash gate, not just a spec.
    Entry("ann_hnsw_tombstone_exact", (s, dir) =>
      knnResult(HnswKnn.probeSaved(s, hnswSavedPath(s, dir),
        embQueries(s, dir, 10), k = 10, efSearch = 1 << 20,
        tombstones = (0L until 5L).toSet)),
      // tombstoned ids simply vanish from the corpus in the oracle
      Oracle(knnOracle(10, 10, l2Sql, "ASC", "e.vec_id >= 5"))),
    // centroid-routed graphs (IVF-of-HNSW): build → save → load → probe the
    // nprobe nearest clusters only. Approximate → rows-only driver check;
    // the recall/nprobe trade is asserted in IndexSpec.
    Entry("ann_hnsw_routed", (s, dir) => routedProbe(s, dir)(
      _.probeLocal(embQueries(s, dir, 10), k = 10, efSearch = 64, nprobe = 2)),
      GradedBy("ann_hnsw_routed_exact")),
    // routed probe at the exact-degenerate point (nprobe = C, exhaustive
    // beam): full fan-out of exact scans = brute force → hash-checked
    // against the same L2 oracle as knn_l2.
    Entry("ann_hnsw_routed_exact", (s, dir) => routedProbe(s, dir)(
      _.probeLocal(embQueries(s, dir, 10), k = 10, efSearch = 1 << 20, nprobe = 8)),
      SameOracleAs("knn_l2")),
    // mass-adaptive routing at the degenerate point: minMass = 1 walks the
    // centroid ranking until the routed clusters hold the whole corpus =
    // full fan-out, and the exhaustive beam makes each cluster scan exact →
    // hash-checked against the same L2 oracle as knn_l2.
    Entry("ann_hnsw_routed_auto_exact", (s, dir) => routedProbe(s, dir)(
      _.probeLocalAuto(embQueries(s, dir, 10), k = 10, efSearch = 1 << 20,
        minMass = 1.0)), SameOracleAs("knn_l2")),
    // mass-adaptive routing at a real operating point: each query probes
    // nearest clusters until they hold ≥ 3/4 of the corpus — the
    // population-denominated form of the nprobe knob (per-query probe count
    // adapts to cluster skew). Approximate → rows-only driver check; the
    // mass target, recall monotonicity, and skew adaptivity are asserted in
    // IndexSpec.
    Entry("ann_hnsw_routed_auto", (s, dir) => routedProbe(s, dir)(
      _.probeLocalAuto(embQueries(s, dir, 10), k = 10, efSearch = 64,
        minMass = 0.75)), GradedBy("ann_hnsw_routed_auto_exact")),
  )
}
