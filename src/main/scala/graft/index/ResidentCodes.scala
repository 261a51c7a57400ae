package graft.index

import graft.functions.VecSignPack
import graft.operators.Metric
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident shard of a quantized-code family: this
  * partition's rows grouped by IVF cluster (the flat forms put every row in
  * cluster 0), each cluster a struct-of-arrays block — ids, flat codes
  * (`width` shorts a row, row-major), floats for the refine (null rows in a
  * codes-only load). `dims` lists the float dimensions of the shard's rows.
  * Rows hash-shard by id, so every shard holds a slice of many clusters and
  * cluster skew spreads across the fleet instead of pinning one hot
  * executor. */
final case class CodeShard(
    clusters: Map[Int, (Array[Long], Array[Short], Array[Array[Float]])],
    width: Int, dims: Array[Int])

/** The shard-side half of a code type: `scanner(width)` offers every row
  * of one cluster block to the rerank buffer at its code distance, given
  * the query's client-side prep `P` (its SQ8 code, its PQ LUT or its sign
  * words). A scanner is built once per (shard, batch), so it may own
  * scratch; the code type is chosen once per block, never per row. */
private[index] sealed trait BlockScan[P] extends Serializable {
  def scanner(width: Int): ResidentCodes.Scan[P]
}

/** A code type as a loader picks it: whether the refine ranks by inner
  * product, the client-side query prep and the shard-side block scan. */
private[index] final case class CodeType[P](ip: Boolean,
                                            prep: Array[Float] => P,
                                            scan: BlockScan[P])

/** SQ8: integer L2 between the query's code and each row's. Exact in Int
  * (d·255² fits comfortably) and in the buffer's double. */
private[index] case object Sq8Scan extends BlockScan[Array[Short]] {
  def scanner(d: Int): ResidentCodes.Scan[Array[Short]] = {
    (_, qc, _, block, buf) =>
      val (ids, codes, vecs) = block
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
        buf.offer(acc.toDouble, ids(row), vecs(row))
        row += 1
      }
  }
}

/** PQ: the sum of the query's LUT entries at a row's `m` codes. Residual
  * codes (x − c) score against a per-cluster LUT, assembled here in m·stride
  * adds into the scanner's scratch: the query's plain LUT, plus the
  * cluster's load-time precomputed table, plus the query's per-subspace
  * −2⟨c_j, q_j⟩ correction (see [[ResidentCodes.residualTables]]). */
private[index] final case class PqScan(
    stride: Int, dsub: Int,
    residual: Option[Broadcast[Map[Int, (Array[Float], Array[Double])]]])
    extends BlockScan[Array[Double]] {
  def scanner(m: Int): ResidentCodes.Scan[Array[Double]] = {
    val tables = residual.map(_.value).orNull
    val scratch = if (tables == null) null else new Array[Double](m * stride)
    (qv, plain, cid, block, buf) =>
      val lut =
        if (tables == null) plain
        else {
          val (cv, pre) = tables(cid)
          var j = 0
          while (j < m) {
            val off = j * dsub
            val lim = math.max(0, math.min(dsub, qv.length - off))
            var acc = 0.0
            var i = 0
            while (i < lim) {
              acc += cv(off + i).toDouble * qv(off + i).toDouble; i += 1
            }
            val corr = -2.0 * acc
            val base = j * stride
            var w = 0
            while (w < stride) {
              scratch(base + w) = plain(base + w) + pre(base + w) + corr
              w += 1
            }
            j += 1
          }
          scratch
        }
      val (ids, codes, vecs) = block
      var row = 0
      while (row < ids.length) {
        val off = row * m
        var acc = 0.0
        var j = 0
        while (j < m) {
          acc += lut(j * stride + codes(off + j))
          j += 1
        }
        buf.offer(acc, ids(row), vecs(row))
        row += 1
      }
  }
}

/** Hamming: XOR + popcount between the query's packed sign words and each
  * row's, stored four shorts a word (low half first). Exact in Int. */
private[index] case object HammingScan extends BlockScan[Array[Long]] {
  def scanner(width: Int): ResidentCodes.Scan[Array[Long]] = {
    (_, qw, _, block, buf) =>
      val (ids, codes, vecs) = block
      var row = 0
      while (row < ids.length) {
        val off = row * width
        var acc = 0
        var j = 0
        while (j < qw.length) {
          val o = off + 4 * j
          val w = (codes(o) & 0xFFFFL) | (codes(o + 1) & 0xFFFFL) << 16 |
            (codes(o + 2) & 0xFFFFL) << 32 | codes(o + 3).toLong << 48
          acc += java.lang.Long.bitCount(qw(j) ^ w)
          j += 1
        }
        buf.offer(acc.toDouble, ids(row), vecs(row))
        row += 1
      }
  }
}

/** Executor-resident serving of quantized codes with a float refine — the
  * reference baseline's index composition, `indexkey=IVF16384,SQ8` plus
  * refine (filter/faiss/config.yaml:50-53): coarse routing × in-RAM codes ×
  * exact float re-rank. As one faiss inverted-list layout serves every code
  * type, one class serves every code family here: the shards
  * ([[CodeShard]]), the routing front end, the rerank-then-refine scan and
  * the DataFrame wrappers are shared, and a code type supplies only its
  * client-side query prep and its block scan ([[BlockScan]]). The loaders
  * in the companion pick the code type:
  *
  *  - [[ResidentCodes.loadAdc]] / [[ResidentCodes.loadAdcRotated]]: flat
  *    PQ-ADC, optionally OPQ-rotated (rotated codes, original floats, so
  *    reported distances are original-space); one cluster, one route;
  *  - [[ResidentCodes.loadIvfAdc]]: IVF routing over raw PQ codes;
  *  - [[ResidentCodes.loadIvfResidual]]: faiss's true IVFPQ, codes of the
  *    residual against the row's centroid;
  *  - [[ResidentCodes.loadIvfSq8]]: IVF routing over SQ8 codes, the
  *    reference's literal composition;
  *  - [[ResidentCodes.loadHamming]]: flat packed sign codes (faiss
  *    IndexBinaryFlat), the refine optional.
  *
  * A batch routes each query to its nearest centroids — a fixed `nprobe`
  * ([[probeBatch]]) or a corpus fraction `minMass` ([[probeBatchMass]],
  * see [[CoarseRouter.byMass]]), by the linear rank or, with `efRoute` < C,
  * the centroid-graph beam. Routing runs on client threads below
  * [[Router.shardRouteVolume]] and on the shards above it (the router
  * broadcasts once at load), so neither a large C nor a large batch
  * serializes on the driver; `shardRoute` overrides the choice, and both
  * paths give identical rows. Each query's prep (its SQ8 code, or its PQ
  * LUT) ships in the batch's one broadcast; one job scans only the routed
  * clusters' blocks of each shard into a `rerank`-bounded buffer carrying
  * the floats, refines the survivors exactly, and emits that shard's k
  * best to the [[ProbeMerge]] fan-in — the REPOSE shape, a partition-local
  * top-k then one global merge.
  *
  * Results: (qid, id, dist, rank), dist the exact metric distance of the
  * refined rows, (dist asc, id asc) ranking; [[probeBatchCodes]] ranks by
  * the code distance alone (for Hamming codes, exact Hamming kNN). With a
  * lossless codebook and every cluster routed, ADC is exact squared L2;
  * with every cluster routed and rerank ≥ n, every row reaches the exact
  * refine. Either way the served batch hash-matches brute force (the
  * `_served_exact` gates).
  *
  * Regime bounds (measured, 10M-row decade): the refine budget must scale
  * with the SCANNED population, because the code scan's false positives
  * grow with it. Flat ADC reaches 0.90 only at rerank ≈ 2,560 (~21 q/s);
  * raw IVF codes need rerank ≈ 2,560 for 0.911 (30 q/s); residual codes
  * need 1,280 for 0.914 (94 q/s); SQ8 holds 0.94 with rerank 80. Past ~1M
  * rows serve residual or SQ8; the flat and raw-coded forms are the
  * byte-budget comparison points and the exact degenerate gates. */
final class ResidentCodes[P] private (
    spark: SparkSession, rdd: RDD[CodeShard], router: Option[CoarseRouter],
    dim: Int, code: CodeType[P], tables: Option[Broadcast[_]],
    floats: Boolean) {

  private val routerBc = router.map(spark.sparkContext.broadcast(_))

  def numClusters: Int = router.fold(1)(_.numClusters)

  /** One batch at a fixed routing count (default: every cluster): (qid,
    * qvec) in, (qid, id, dist, rank) out. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int,
                 nprobe: Int = numClusters, rerank: Int,
                 treeMergeAt: Int = 64, efRoute: Int = Int.MaxValue,
                 shardRoute: Option[Boolean] = None): Array[(Long, Long, Double, Long)] =
    serve(qs, k, rerank, treeMergeAt, efRoute, shardRoute)(
      (rt, qv) => rt.byNprobeGraph(qv, nprobe, efRoute))

  /** Every cluster's rows ranked by their code distance alone, with no
    * refine: (qid, qvec) in, (qid, id, code distance, rank) out. Needs no
    * pinned floats. */
  def probeBatchCodes(qs: Array[(Long, Array[Float])], k: Int,
                      treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] =
    serve(qs, k, k, treeMergeAt, Int.MaxValue, None, refine = false)(
      (rt, qv) => rt.byNprobe(qv, rt.numClusters))

  /** [[probeBatch]] with MASS-ADAPTIVE routing: the knob is the corpus
    * fraction scanned, which keeps its meaning at every C and corpus size;
    * minMass = 1.0 is the full fan-out. */
  def probeBatchMass(qs: Array[(Long, Array[Float])], k: Int,
                     minMass: Double, rerank: Int,
                     maxNprobe: Int = Int.MaxValue,
                     treeMergeAt: Int = 64,
                     shardRoute: Option[Boolean] = None,
                     efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] =
    serve(qs, k, rerank, treeMergeAt, efRoute, shardRoute)(
      (rt, qv) => rt.byMassGraph(qv, minMass, efRoute, maxNprobe))

  /** [[probeBatch]] with DataFrame plumbing on both ends. */
  def probeLocal(queries: DataFrame, k: Int, nprobe: Int = numClusters,
                 rerank: Int, efRoute: Int = Int.MaxValue): DataFrame =
    ResidentServe.frame(spark, probeBatch(ResidentServe.queries(queries), k,
      nprobe, rerank, efRoute = efRoute))

  /** [[probeBatchCodes]] with DataFrame plumbing on both ends. */
  def probeLocalCodes(queries: DataFrame, k: Int): DataFrame =
    ResidentServe.frame(spark, probeBatchCodes(ResidentServe.queries(queries), k))

  /** [[probeBatchMass]] with DataFrame plumbing on both ends. */
  def probeLocalMass(queries: DataFrame, k: Int, minMass: Double,
                     rerank: Int, efRoute: Int = Int.MaxValue): DataFrame =
    ResidentServe.frame(spark, probeBatchMass(ResidentServe.queries(queries),
      k, minMass, rerank, efRoute = efRoute))

  private def serve(qs: Array[(Long, Array[Float])], k: Int, rerank: Int,
                    treeMergeAt: Int, efRoute: Int, shardRoute: Option[Boolean],
                    refine: Boolean = true)(
      route: (CoarseRouter, Array[Float]) => Array[Int]): Array[(Long, Long, Double, Long)] = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    require(floats || !refine, "a refined probe needs pinFloats = true at load")
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    // graph routing drops the per-query routing term from O(C·d) to
    // O(efRoute·log C), so the shard-route bound scales by the work the
    // graph actually does per query rather than by C
    val onShards = router.exists { rt =>
      val c = rt.numClusters
      val cost =
        if (efRoute >= c) c.toLong
        else efRoute.toLong * (1 + 31 - Integer.numberOfLeadingZeros(math.max(2, c)))
      shardRoute.getOrElse(qs.length.toLong * cost * dim > Router.shardRouteVolume)
    }
    // per-query prep (route + code or LUT) is independent → client-parallel;
    // a shard-routed query ships no route
    val prepped = Router.parallelMap(qs) { case (qid, qv) =>
      (qid, qv, code.prep(qv),
        if (onShards) null else router.fold(Array(0))(route(_, qv)))
    }
    // locals, so the kernel captures no driver-side state
    val (bs, rb, ip) = (code.scan, routerBc.orNull, code.ip)
    ResidentServe.probe(rdd, prepped, qs.length, k, treeMergeAt) { (shard, batch) =>
      val block = bs.scanner(shard.width)
      batch.iterator.flatMap { case (qid, qv, p, routed) =>
        val cids = if (routed != null) routed else route(rb.value, qv)
        // never larger than the routed rows: rerank = ∞ is the exact
        // degenerate point, not a giant allocation
        val rows = cids.iterator.flatMap(shard.clusters.get).map(_._1.length).sum
        val coarse = new TopKBuffer(math.max(1, math.min(rerank, rows)),
          carryVecs = refine)
        cids.foreach(cid =>
          shard.clusters.get(cid).foreach(block(qv, p, cid, _, coarse)))
        // exact refine of the survivors (the reference's refine step),
        // then emit only this shard's k best
        if (refine) coarse.refine(k)(ResidentServe.dist(qv, _, ip)).rows(qid)
        else coarse.rows(qid)
      }
    }
  }

  def unload(): Unit = {
    rdd.unpersist()
    routerBc.foreach(_.destroy())
    tables.foreach(_.destroy())
  }
}

object ResidentCodes {
  private[index] type Block = (Array[Long], Array[Short], Array[Array[Float]])
  private[index] type Scan[P] = (Array[Float], P, Int, Block, TopKBuffer) => Unit

  /** Flat PQ-ADC: encode `base` = (id, vec) with `cb` and pin code + float
    * shards resident. Build once, probe many. */
  def loadAdc(base: DataFrame, cb: Pq.Codebook, numPartitions: Int,
              metric: String = Metric.L2): ResidentCodes[Array[Double]] =
    pin(Pq.encode(base.select(col("id").cast("long"), col("vec")), cb)
      .withColumn("cid", lit(0)), numPartitions, None)(
      pq(cb, metric, identity))

  /** [[loadAdc]] under an OPQ rotation: shards hold ROTATED codes (what the
    * scan reads) beside the ORIGINAL floats (what the refine reads), and
    * the LUT is built from the rotated query, so served distances are
    * original-space. Works for ip too (a rotation preserves dot products). */
  def loadAdcRotated(base: DataFrame, rot: Opq.Rotation, cb: Pq.Codebook,
                     numPartitions: Int,
                     metric: String = Metric.L2): ResidentCodes[Array[Double]] =
    pin(Pq.encode(base.select(col("id").cast("long"),
        Opq.rotateCol(rot, col("vec")).as("vec"), col("vec").as("ovec")), cb)
      .select(col("id"), lit(0).as("cid"), col("ovec").as("vec"), col("codes")),
      numPartitions, None)(pq(cb, metric, rot(_)))

  /** IVF routing over raw PQ codes: assign `base` to `ivf`'s clusters,
    * encode with `cb`, pin cluster-grouped shards. */
  def loadIvfAdc(base: DataFrame, ivf: IvfIndex, cb: Pq.Codebook,
                 numPartitions: Int,
                 metric: String = Metric.L2): ResidentCodes[Array[Double]] =
    pin(Pq.encode(assigned(ivf, base), cb), numPartitions, Some(router(ivf)))(
      pq(cb, metric, identity))

  /** faiss's TRUE IVFPQ served resident: `idx`'s codes quantize each row's
    * residual against its centroid (residuals concentrate near zero, so a
    * fixed code budget quantizes them finer than raw vectors). Reuses the
    * built index's codes — loading is a join, not a re-encode. L2 only:
    * the residual identity ‖(q−c)−(x−c)‖ = ‖q−x‖ has no ip analog. */
  def loadIvfResidual(base: DataFrame, idx: IvfPq.IvfPqIndex,
                      numPartitions: Int): ResidentCodes[Array[Double]] = {
    val rt = router(idx.ivf)
    val tables = base.sparkSession.sparkContext.broadcast(
      residualTables(rt.centroids, idx.cb))
    try pin(idx.codes
        .select(col("id").cast("long"), col("cid").cast("int"), col("codes"))
        .join(base.select(col("id").cast("long"), col("vec")), "id"),
      numPartitions, Some(rt), Some(tables))(
      pq(idx.cb, Metric.L2, identity, Some(tables)))
    catch { case e: Exception => tables.destroy(); throw e }
  }

  /** IVF routing over SQ8 codes: assign `base` to `ivf`'s clusters,
    * SQ8-encode with the trained (mins, spans), pin cluster-grouped shards.
    * The query's code is the EXACT arithmetic of [[Sq8.encodeCol]] (same
    * round-half-up on the same double expression), so served coarse
    * distances equal [[IvfSq8.knnWith]]'s bit for bit. */
  def loadIvfSq8(base: DataFrame, ivf: IvfIndex, mins: Array[Double],
                 spans: Array[Double], numPartitions: Int): ResidentCodes[Array[Short]] =
    // a row of another dimension gets no codes (encodeCol would pad them
    // with nulls), so the load's dimension check is what refuses it
    pin(assigned(ivf, base).withColumn("codes", when(
        size(col("vec")) === mins.length, Sq8.encodeCol(col("vec"), mins, spans))),
      numPartitions, Some(router(ivf)))(CodeType(ip = false,
      qv => Array.tabulate(qv.length)(i =>
        math.round(255.0 * (qv(i).toDouble - mins(i)) / spans(i)).toShort),
      Sq8Scan))

  /** Flat Hamming over packed sign codes (faiss IndexBinaryFlat): each
    * row's [[VecSignPack]] words, and the query's packed by the same rule
    * on the client. [[probeBatchCodes]] is
    * exact Hamming kNN, integer distances carried as double. `pinFloats`
    * also pins the float rows for [[probeBatch]]: the Hamming top-`rerank`
    * of each shard, refined by exact `metric` (at rerank ≥ the shard
    * population, exact float kNN). Without it only the codes cross the
    * exchange and occupy memory. */
  def loadHamming(base: DataFrame, numPartitions: Int,
                  pinFloats: Boolean = false,
                  metric: String = Metric.L2): ResidentCodes[Array[Long]] = {
    import graft.functions.vectors._
    // each 64-bit word as four sign-extended 16-bit slices, low half first
    val shorts = flatten(transform(vecSignPack(col("vec")), w =>
      array((0 until 64 by 16).map(s =>
        shiftright(shiftleft(w, 48 - s), 48).cast("short")): _*)))
    pin(base.select(col("id").cast("long"), lit(0).as("cid"), col("vec"),
        shorts.as("codes")), numPartitions, None, floats = pinFloats)(
      CodeType(metric == Metric.Ip, VecSignPack.pack, HammingScan))
  }

  /** A PQ code type: m codes a row, the LUT of the `view` of the query. */
  private def pq(cb: Pq.Codebook, metric: String,
                 view: Array[Float] => Array[Float],
                 residual: Option[Broadcast[Map[Int, (Array[Float], Array[Double])]]] = None) =
    CodeType(metric == Metric.Ip,
      qv => Pq.lutLocal(view(qv), cb, metric),
      PqScan(cb.stride, cb.dsub, residual))

  /** The one load: (id, cid, vec, codes) → `repartition(n, id)` → group by
    * cid → persist → [[ResidentServe.materialize]], which refuses rows of
    * mixed dimension. A shard's code width is its longest code row; a
    * shorter row, or one without codes, pads with zeros. Without `floats`
    * only each row's dimension crosses the exchange with its codes. */
  private def pin[P](coded: DataFrame, numPartitions: Int,
                     router: Option[CoarseRouter],
                     tables: Option[Broadcast[_]] = None,
                     floats: Boolean = true)(
      code: CodeType[P]): ResidentCodes[P] = {
    val spark = coded.sparkSession
    import spark.implicits._
    val rdd = coded
      .select(col("id"), col("cid"),
        if (floats) col("vec") else lit(null).cast("array<float>"),
        col("codes"), size(col("vec")))
      .repartition(numPartitions, col("id"))
      .as[(Long, Int, Array[Float], Array[Short], Int)].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        val width = rows.iterator.map(r => if (r._4 == null) 0 else r._4.length)
          .foldLeft(0)(math.max)
        val clusters = rows.groupBy(_._2).map { case (cid, rs) =>
          val codes = new Array[Short](rs.length * width)
          var r = 0
          while (r < rs.length) {
            val c = rs(r)._4
            if (c != null) System.arraycopy(c, 0, codes, r * width, c.length)
            r += 1
          }
          cid -> ((rs.map(_._1), codes, rs.map(_._3)))
        }
        Iterator.single(CodeShard(clusters, width, rows.map(_._5).distinct))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dim = ResidentServe.materialize(rdd)(_.dims.iterator)
    new ResidentCodes(spark, rdd, router, dim, code, tables, floats)
  }

  /** `base` rows with their `ivf` cluster: (id, cid, vec). */
  private def assigned(ivf: IvfIndex, base: DataFrame): DataFrame =
    ivf.assigned.select(col("id").cast("long"), col("cid").cast("int"))
      .join(base.select(col("id").cast("long"), col("vec")), "id")

  /** `ivf`'s centroids, with the cluster populations mass routing walks
    * from one count aggregate over the assignment. */
  private def router(ivf: IvfIndex): CoarseRouter = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val cents = ivf.centroids
      .select(col("cid").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val sizes = ivf.assigned.groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect().toMap
    new CoarseRouter(cents, sizes)
  }

  /** Residual mode's precomputed tables (the IVFADC "precomputed table"
    * decomposition, Jégou/Douze/Schmid TPAMI 2011 §V — faiss's
    * `use_precomputed_table`):
    *
    *   ‖(q−c)_j − w‖² = ‖q_j − w‖² + (‖c_j‖² + 2⟨c_j,w⟩) − 2⟨c_j,q_j⟩
    *
    * The middle term is query-INDEPENDENT — computed once per index here
    * (C·m·stride doubles, broadcast once at load, each beside its
    * centroid), so a probe builds ONE plain LUT per query and the shards
    * add only the m-vector of −2⟨c_j,q_j⟩ corrections per routed cluster. */
  private[index] def residualTables(centroids: Array[(Int, Array[Float])],
                                    cb: Pq.Codebook): Map[Int, (Array[Float], Array[Double])] = {
    val stride = cb.stride
    val dsub = cb.dsub
    centroids.map { case (cid, cv) =>
      val t = new Array[Double](cb.m * stride)
      var j = 0
      while (j < cb.m) {
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
      cid -> ((cv, t))
    }.toMap
  }
}
