package graft.index

import graft.operators.Metric
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident coarse-routed code shard: this partition's rows
  * grouped by their IVF cluster, each cluster a struct-of-arrays block
  * (ids, flat codes, floats for the refine). Rows hash-shard by id — every
  * shard holds a slice of MANY clusters, so cluster skew spreads across
  * the fleet instead of pinning one hot executor. */
final case class IvfAdcShard(
    clusters: Map[Int, (Array[Long], Array[Short], Array[Array[Float]])],
    m: Int)

/** The reference baseline's FULL index composition, served resident:
  * `indexkey=IVF16384,SQ8` + refine
  * (/root/reference/filter/faiss/config.yaml:50-53) = coarse quantizer
  * routing × in-RAM codes × float re-rank — here as IVF routing over
  * PQ-ADC shards. A probe batch routes each query to its `nprobe` nearest
  * centroids ON THE CLIENT (the centroid table is tiny), broadcasts
  * (query, LUT, routed clusters), and one narrow job ADC-scans ONLY the
  * routed clusters' rows in each shard, float-refines the `rerank` best
  * in-shard, and fans in through [[ProbeMerge]].
  *
  * Per-query work is bounded by the routed clusters' population —
  * independent of corpus size at fixed routing selectivity, which is the
  * economics that make IVF the 100 TB default. At nprobe = C with a
  * lossless codebook every row is scanned exactly → the served batch
  * hash-matches brute force (the degenerate-point gate).
  *
  * Regime bound (measured, 10M-row decade): `rerank` must scale with the
  * SCANNED population (mass·n) — the PQ codes' false positives grow with
  * it, so a fixed budget's recall ceilings (r8: raw codes 0.42, residual
  * 0.57 at rerank ≤ 640 on 10M rows) and the bench escalates rerank by
  * doubling, probed at the largest swept mass, until 0.9 or plateau. At
  * 10M rows the raw-coded form needs rerank ≈ 2,560 for 0.911 (30 q/s)
  * while the residual codes need 1,280 for 0.9144 at 3× the QPS (94 q/s)
  * and SQ8 holds 0.94 with rerank 80 — at the big decades run residual
  * or [[ResidentIvfSq8]]; the raw-coded form is the byte-budget
  * comparison point and the exact degenerate gate. */
final class ResidentIvfAdc(spark: SparkSession, rdd: RDD[IvfAdcShard],
                           cb: Pq.Codebook,
                           router: CoarseRouter,
                           metric: String,
                           residual: Boolean = false) {

  private def centroids: Array[(Int, Array[Float])] = router.centroids

  def numClusters: Int = centroids.length

  private lazy val centMap: Map[Int, Array[Float]] = centroids.toMap

  /** Residual mode's precomputed tables (the IVFADC "precomputed table"
    * decomposition, Jégou/Douze/Schmid TPAMI 2011 §V — faiss's
    * `use_precomputed_table`):
    *
    *   ‖(q−c)_j − w‖² = ‖q_j − w‖² + (‖c_j‖² + 2⟨c_j,w⟩) − 2⟨c_j,q_j⟩
    *
    * The middle term is query-INDEPENDENT — computed once per index here
    * (C·m·stride doubles, broadcast once at load), so probes build ONE
    * plain LUT per query instead of one full LUT per (query, routed
    * cluster), plus only an m-vector of ⟨c_j,q_j⟩ corrections per route.
    * This removes the nq·nprobe driver-serial LUT builds and the nprobe×
    * broadcast bytes that made the residual row ~2× slower and 7×
    * spread-ier than its raw-coded sibling (the r5 verdict's #1 item). */
  private val term2Bc: Option[org.apache.spark.broadcast.Broadcast[Map[Int, Array[Double]]]] =
    if (!residual) None
    else {
      val stride = cb.stride
      val dsub = cb.dsub
      val mSub = cb.books.length
      val tbl = centroids.map { case (cid, cv) =>
        val t = new Array[Double](mSub * stride)
        var j = 0
        while (j < mSub) {
          val off = j * dsub
          val lim = math.max(0, math.min(dsub, cv.length - off))
          var cNorm = 0.0
          var i = 0
          while (i < lim) {
            val c = cv(off + i).toDouble; cNorm += c * c; i += 1
          }
          val bk = cb.books(j)
          var w = 0
          while (w < bk.length) {
            val cw = bk(w)
            var dot = 0.0
            var x = 0
            val lim2 = math.min(lim, cw.length)
            while (x < lim2) { dot += cv(off + x).toDouble * cw(x).toDouble; x += 1 }
            t(j * stride + w) = cNorm + 2.0 * dot
            w += 1
          }
          j += 1
        }
        cid -> t
      }.toMap
      Some(spark.sparkContext.broadcast(tbl))
    }

  /** Serving-form batch probe: (qid, qvec) in, (qid, id, dist, rank) out,
    * dist = exact metric distance of the refined rows, (dist asc, id asc)
    * ranking. Routing is [[CoarseRouter.byNprobe]] on client threads. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                 rerank: Int,
                 treeMergeAt: Int = 64,
                 efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] = {
    val rt = router
    probePrepped(qs, qv => rt.byNprobeGraph(qv, nprobe, efRoute), k, rerank,
      treeMergeAt)
  }

  /** [[probeBatch]] with MASS-ADAPTIVE routing: the knob is the corpus
    * fraction scanned, which keeps its meaning at every C and corpus size
    * (see [[CoarseRouter.byMass]]); minMass = 1.0 degenerates to the full
    * fan-out (exact with rerank ≥ n — the hash-gate point). */
  def probeBatchMass(qs: Array[(Long, Array[Float])], k: Int,
                     minMass: Double, rerank: Int,
                     maxNprobe: Int = Int.MaxValue,
                     treeMergeAt: Int = 64,
                     efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] = {
    val rt = router
    probePrepped(qs, qv => rt.byMassGraph(qv, minMass, efRoute, maxNprobe),
      k, rerank, treeMergeAt)
  }

  private def probePrepped(qs: Array[(Long, Array[Float])],
                           routeFn: Array[Float] => Array[Int], k: Int,
                           rerank: Int,
                           treeMergeAt: Int): Array[(Long, Long, Double, Long)] = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    ResidentServe.validate(k, router.dim, qs.iterator.map(_._2.length))
    val stride = cb.stride
    val dsub = cb.dsub
    val ip = metric == Metric.Ip
    val isRes = residual
    val t2 = term2Bc.orNull
    // one plain LUT per query in BOTH modes; residual mode adds only an
    // m-vector of −2⟨c_j,q_j⟩ corrections per routed cluster (see term2Bc)
    // — the full per-(query, cluster) LUT is assembled shard-side from the
    // precomputed table, in m·stride adds, into a reusable scratch buffer.
    // Per-query prep (route + LUT) is independent → client-parallel.
    val routed = Router.parallelMap(qs) { case (qid, qv) =>
      val cids = routeFn(qv)
      val lut = Pq.lutLocal(qv, cb, metric)
      val qc: Array[Array[Double]] =
        if (isRes) cids.map { cid =>
          val cv = centMap(cid)
          val mSub = cb.books.length
          val t = new Array[Double](mSub)
          var j = 0
          while (j < mSub) {
            val off = j * dsub
            val lim = math.max(0, math.min(dsub, qv.length - off))
            var acc = 0.0
            var i = 0
            while (i < lim) {
              acc += cv(off + i).toDouble * qv(off + i).toDouble; i += 1
            }
            t(j) = -2.0 * acc
            j += 1
          }
          t
        } else null
      (qid, qv, lut, cids, qc)
    }
    ResidentServe.probe(rdd, routed, qs.length, k, treeMergeAt) { (shard, batch) =>
      val m = shard.m
      val t2map = if (isRes) t2.value else null
      val scratch = if (isRes) new Array[Double](m * stride) else null
      batch.iterator.flatMap { case (qid, qv, lutPlain, cids, qc) =>
        val coarse = new TopKBuffer(rerank, carryVecs = true)
        var ci = 0
        while (ci < cids.length) {
          val lut =
            if (isRes) {
              val pre = t2map(cids(ci))
              val qcj = qc(ci)
              var j = 0
              while (j < m) {
                val corr = qcj(j)
                val off = j * stride
                var w = 0
                while (w < stride) {
                  scratch(off + w) = lutPlain(off + w) + pre(off + w) + corr
                  w += 1
                }
                j += 1
              }
              scratch
            } else lutPlain
          shard.clusters.get(cids(ci)) match {
            case Some((ids, codes, vecs)) =>
              var row = 0
              while (row < ids.length) {
                val off = row * m
                var acc = 0.0
                var j = 0
                while (j < m) {
                  acc += lut(j * stride + codes(off + j))
                  j += 1
                }
                coarse.offer(acc, ids(row), vecs(row))
                row += 1
              }
            case None =>
          }
          ci += 1
        }
        // float refine of the survivors (the reference's refine step),
        // then emit only this shard's k best
        coarse.refine(k)(v => ResidentServe.dist(qv, v, ip)).rows(qid)
      }
    }
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends. */
  def probeLocal(queries: DataFrame, k: Int, nprobe: Int,
                 rerank: Int, efRoute: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(
      probeBatch(qs, k, nprobe, rerank, efRoute = efRoute).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  /** [[probeBatchMass]] with DataFrame plumbing on both ends. */
  def probeLocalMass(queries: DataFrame, k: Int, minMass: Double,
                     rerank: Int, efRoute: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(
      probeBatchMass(qs, k, minMass, rerank, efRoute = efRoute).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  def unload(): Unit = {
    rdd.unpersist()
    term2Bc.foreach(_.destroy())
  }
}

object ResidentIvfAdc {
  /** Assign `base` = (id, vec) to `ivf`'s clusters, encode with `cb`, and
    * pin cluster-grouped code shards resident. Build once, probe many. */
  def load(base: DataFrame, ivf: IvfIndex, cb: Pq.Codebook,
           numPartitions: Int, metric: String = Metric.L2): ResidentIvfAdc = {
    val rows = ivf.assigned.select(col("id").cast("long"), col("cid").cast("int"))
      .join(base.select(col("id").cast("long"), col("vec")), "id")
    fromCoded(Pq.encode(rows, cb), ivf, cb, numPartitions, metric,
      residual = false)
  }

  /** Serve faiss's TRUE IVFPQ composition resident: `idx`'s codes quantize
    * each row's residual against its cluster centroid (residuals
    * concentrate near zero — a fixed code budget quantizes them much
    * finer than raw vectors), probes build one LUT per (query, routed
    * cluster). Reuses the already-encoded [[IvfPq.IvfPqIndex]] codes —
    * loading is a join, not a re-encode. L2 only, like
    * [[IvfPq.knnResidual]]: the residual identity ‖(q−c)−(x−c)‖ = ‖q−x‖
    * has no ip analog here. With a lossless residual codebook + nprobe = C
    * the probe is EXACT (the degenerate-point hash gate). */
  def loadResidual(base: DataFrame, idx: IvfPq.IvfPqIndex,
                   numPartitions: Int): ResidentIvfAdc = {
    val coded = idx.codes
      .select(col("id").cast("long"), col("cid").cast("int"), col("codes"))
      .join(base.select(col("id").cast("long"), col("vec")), "id")
    fromCoded(coded, idx.ivf, idx.cb, numPartitions, Metric.L2,
      residual = true)
  }

  private def fromCoded(coded: DataFrame, ivf: IvfIndex, cb: Pq.Codebook,
                        numPartitions: Int, metric: String,
                        residual: Boolean): ResidentIvfAdc = {
    val spark = coded.sparkSession
    import spark.implicits._
    val m = cb.m
    val cents = ivf.centroids
      .select(col("cid").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // cluster populations for mass-adaptive routing: one count aggregate
    val sizes = ivf.assigned.groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect().toMap
    val rdd = coded
      .select(col("id"), col("cid"), col("vec"), col("codes"))
      .repartition(numPartitions, col("id"))
      .as[(Long, Int, Array[Float], Array[Short])].rdd
      .mapPartitions { it =>
        val byCid = it.toArray.groupBy(_._2)
        val clusters = byCid.map { case (cid, rs) =>
          val codes = new Array[Short](rs.length * m)
          var r = 0
          while (r < rs.length) {
            System.arraycopy(rs(r)._4, 0, codes, r * m, m)
            r += 1
          }
          cid -> ((rs.map(_._1), codes, rs.map(_._3)))
        }
        Iterator.single(IvfAdcShard(clusters, m))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize before the first probe
    new ResidentIvfAdc(spark, rdd, cb, new CoarseRouter(cents, sizes),
      metric, residual)
  }
}
