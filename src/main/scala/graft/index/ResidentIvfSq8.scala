package graft.index

import graft.operators.Metric
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident coarse-routed SQ8 shard: this partition's rows
  * grouped by their IVF cluster, each cluster a struct-of-arrays block
  * (ids, flat uint8 codes widened to short, floats for the refine). Rows
  * hash-shard by id — every shard holds a slice of MANY clusters, so
  * cluster skew spreads across the fleet instead of pinning one hot
  * executor (the [[IvfAdcShard]] layout, codes scalar- instead of
  * product-quantized). */
final case class IvfSq8Shard(
    clusters: Map[Int, (Array[Long], Array[Short], Array[Array[Float]])],
    d: Int)

/** The reference baseline's LITERAL index composition, served resident:
  * `indexkey=IVF16384,SQ8` (/root/reference/filter/faiss/config.yaml:50-53)
  * — IVF coarse routing × scalar-quantized integer scan × exact float
  * re-rank. A probe batch routes each query to its nearest centroids
  * (fixed `nprobe` or mass-adaptive `minMass` — see [[CoarseRouter]]),
  * SQ8-encodes the query with the same trained (mins, spans) affine map
  * the corpus codes used, broadcasts the batch, and one narrow job
  * integer-L2-scans ONLY the routed clusters' rows in each shard,
  * float-refines the `rerank` best in-shard, and fans the per-shard top-k
  * in through [[ProbeMerge]] — identical serving economics to
  * [[ResidentIvfAdc]], with the 1-byte-per-component scan the reference's
  * 10M×192 RAM budget relies on. Routing runs client-side on many threads
  * below [[Router.shardRouteVolume]] and SHARD-SIDE above it (the router
  * broadcasts once at load), so neither a large C nor a large batch ever
  * serializes on the driver; `efRoute` < C further swaps the linear
  * centroid rank for the O(efRoute·log C) centroid-graph beam (see
  * [[CoarseRouter]]'s graph notes) — the router the 100 TB regime needs
  * once autoC reaches the hundreds of thousands.
  *
  * Per-query work is bounded by the routed clusters' population. At
  * nprobe = C (or minMass = 1.0) with rerank ≥ n every row reaches the
  * exact float re-rank, so the served batch hash-matches brute force
  * regardless of quantization error (the `ann_ivfsq8_served_exact`
  * degenerate-point gate); operating points are recall-graded like every
  * approximate row. Results equal [[IvfSq8.knnWith]] on the same
  * (ivf, mins, spans) at matched knobs. */
final class ResidentIvfSq8(spark: SparkSession, rdd: RDD[IvfSq8Shard],
                           router: CoarseRouter,
                           mins: Array[Double], spans: Array[Double]) {

  def numClusters: Int = router.numClusters

  private val routerBc = spark.sparkContext.broadcast(router)

  /** Client-side SQ8 encode — the EXACT arithmetic of [[Sq8.encodeCol]]
    * (same round-half-up on the same double expression), so served coarse
    * distances equal the dataflow form's bit-for-bit. */
  private def encode(qv: Array[Float]): Array[Short] = {
    val out = new Array[Short](qv.length)
    var i = 0
    while (i < qv.length) {
      out(i) = math.round(255.0 * (qv(i).toDouble - mins(i)) / spans(i)).toShort
      i += 1
    }
    out
  }

  /** Serving-form batch probe at a fixed routing count: (qid, qvec) in,
    * (qid, id, dist, rank) out, dist = exact float L2 of the refined rows,
    * (dist asc, id asc) ranking. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int, nprobe: Int,
                 rerank: Int,
                 treeMergeAt: Int = 64,
                 efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    ResidentServe.validate(k, router.dim, qs.iterator.map(_._2.length))
    val rt = router
    val routed = Router.parallelMap(qs) { case (qid, qv) =>
      (qid, qv, encode(qv), rt.byNprobeGraph(qv, nprobe, efRoute))
    }
    probeRouted(routed, k, rerank, treeMergeAt)
  }

  /** [[probeBatch]] with MASS-ADAPTIVE routing — the corpus-fraction knob
    * that holds its meaning across scales (see [[CoarseRouter.byMass]]).
    * Past [[Router.shardRouteVolume]] (nq·C·d) the routing itself moves
    * into the scan job: shards route the broadcast queries themselves, so
    * a C in the thousands never serializes the driver. `shardRoute`
    * overrides the automatic choice (both paths produce identical rows —
    * spec-asserted). */
  def probeBatchMass(qs: Array[(Long, Array[Float])], k: Int,
                     minMass: Double, rerank: Int,
                     maxNprobe: Int = Int.MaxValue,
                     treeMergeAt: Int = 64,
                     shardRoute: Option[Boolean] = None,
                     efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    ResidentServe.validate(k, router.dim, qs.iterator.map(_._2.length))
    // graph routing drops the per-query routing term from O(C·d) to
    // O(efRoute·log C), so the shard-route bound scales by the work the
    // graph actually does per query rather than by C
    val routeCost =
      if (efRoute >= router.numClusters) router.numClusters.toLong
      else efRoute.toLong * (1 + 31 - Integer.numberOfLeadingZeros(
        math.max(2, router.numClusters)))
    val onShards = shardRoute.getOrElse(
      qs.length.toLong * routeCost * mins.length > Router.shardRouteVolume)
    if (!onShards) {
      val rt = router
      val routed = Router.parallelMap(qs) { case (qid, qv) =>
        (qid, qv, encode(qv), rt.byMassGraph(qv, minMass, efRoute, maxNprobe))
      }
      probeRouted(routed, k, rerank, treeMergeAt)
    } else {
      val coded = Router.parallelMap(qs) { case (qid, qv) =>
        (qid, qv, encode(qv))
      }
      val rb = routerBc
      val mm = minMass
      val mp = maxNprobe
      val ef = efRoute
      ResidentServe.probe(rdd, coded, qs.length, k, treeMergeAt) { (shard, batch) =>
        val rt = rb.value
        batch.iterator.flatMap { case (qid, qv, qc) =>
          ResidentIvfSq8.scanShard(shard, qid, qv, qc,
            rt.byMassGraph(qv, mm, ef, mp), k, rerank)
        }
      }
    }
  }

  private def probeRouted(
      routed: Array[(Long, Array[Float], Array[Short], Array[Int])],
      k: Int, rerank: Int,
      treeMergeAt: Int): Array[(Long, Long, Double, Long)] =
    ResidentServe.probe(rdd, routed, routed.length, k, treeMergeAt) {
      (shard, batch) =>
        batch.iterator.flatMap { case (qid, qv, qc, cids) =>
          ResidentIvfSq8.scanShard(shard, qid, qv, qc, cids, k, rerank)
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
    routerBc.destroy()
  }
}

object ResidentIvfSq8 {

  /** One (query, shard) probe: integer-SQ8 scan of the routed clusters
    * into a `rerank`-bounded (coarse dist asc, id asc) buffer, exact
    * float refine of the survivors, then this shard's k best only
    * ([[TopKBuffer.refine]]). Static so the scan closure captures no
    * driver-side state. */
  private[index] def scanShard(shard: IvfSq8Shard, qid: Long,
                               qv: Array[Float], qc: Array[Short],
                               cids: Array[Int], k: Int,
                               rerank: Int): Iterator[(Long, Long, Double)] = {
    // rerank-bounded (coarse dist asc, id asc) buffer; integer SQ8
    // distances are exact in Int (d·255² fits comfortably) and in the
    // buffer's double
    val coarse = new TopKBuffer(rerank, carryVecs = true)
    val d = shard.d
    var ci = 0
    while (ci < cids.length) {
      shard.clusters.get(cids(ci)) match {
        case Some((ids, codes, vecs)) =>
          var row = 0
          while (row < ids.length) {
            val off = row * d
            var acc = 0
            var j = 0
            while (j < d) {
              val t = qc(j) - codes(off + j)
              acc += t * t
              j += 1
            }
            coarse.offer(acc.toDouble, ids(row), vecs(row))
            row += 1
          }
        case None =>
      }
      ci += 1
    }
    // exact float refine of the survivors (the reference's refine step),
    // then emit only this shard's k best
    coarse.refine(k)(v => ResidentServe.dist(qv, v, ip = false)).rows(qid)
  }

  /** Assign `base` = (id, vec) to `ivf`'s clusters, SQ8-encode with the
    * trained (mins, spans), and pin cluster-grouped code shards resident.
    * Build once, probe many. Cluster populations (for mass routing) come
    * from one count aggregate over the assignment. */
  def load(base: DataFrame, ivf: IvfIndex, mins: Array[Double],
           spans: Array[Double], numPartitions: Int): ResidentIvfSq8 = {
    val spark = base.sparkSession
    import spark.implicits._
    val coded = ivf.assigned
      .select(col("id").cast("long"), col("cid").cast("int"))
      .join(base.select(col("id").cast("long"), col("vec")), "id")
      .withColumn("codes", Sq8.encodeCol(col("vec"), mins, spans))
    val cents = ivf.centroids
      .select(col("cid").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val sizes = ivf.assigned.groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect().toMap
    val d = mins.length
    val rdd = coded
      .select(col("id"), col("cid"), col("vec"), col("codes"))
      .repartition(numPartitions, col("id"))
      .as[(Long, Int, Array[Float], Array[Short])].rdd
      .mapPartitions { it =>
        val byCid = it.toArray.groupBy(_._2)
        val clusters = byCid.map { case (cid, rs) =>
          val codes = new Array[Short](rs.length * d)
          var r = 0
          while (r < rs.length) {
            System.arraycopy(rs(r)._4, 0, codes, r * d,
              math.min(d, rs(r)._4.length))
            r += 1
          }
          cid -> ((rs.map(_._1), codes, rs.map(_._3)))
        }
        Iterator.single(IvfSq8Shard(clusters, d))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize before the first probe
    new ResidentIvfSq8(spark, rdd, new CoarseRouter(cents, sizes), mins, spans)
  }
}
