package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Centroid-ROUTED executor-resident graph index (IVF-of-HNSW): the corpus
  * is partitioned by nearest coarse centroid (not by id hash), one HNSW
  * graph per cluster, and each query probes only its `nprobe` nearest
  * clusters' graphs instead of fanning out to every partition.
  *
  * This is the composition the reference's faiss baseline runs as
  * IVF16384 + graph refinement (filter/faiss/config.yaml:50-53) and the
  * shape sharded ANN serving needs at scale: with 1000 shards a query
  * touches nprobe of them, so per-query work is independent of shard count
  * — the id-hash layout ([[HnswKnn]]) pays P beams per query, this pays
  * nprobe. The routing table is C centroid vectors (driver/client-side,
  * tiny); cluster sizes are bounded by k-means balance, skewed clusters by
  * the histogram stats ([[ClusterHistogram]]).
  *
  * nprobe = C degenerates to the full fan-out, so with an exhaustive beam
  * the probe is EXACT — the same degenerate-point hash gate as IVF at
  * nprobe = C and the id-hash graphs at ef ≥ n. */
final class HnswRouted(spark: SparkSession,
                       rdd: RDD[(Int, HnswIndex)],
                       val centroids: Array[(Int, Array[Float])],
                       ipMetric: Boolean,
                       shardsOf: Map[Int, Array[Int]],
                       val clusterSizes: Map[Int, Long] = Map.empty) {

  /** Rank every centroid by the index metric (L2, or negated dot under ip —
    * MIPS routes to the centroids of max inner product, the IVF-MIPS
    * convention). Ties break to the lower cid. */
  private def rankCentroids(qv: Array[Float]): Array[(Double, Int)] =
    centroids.map { case (cid, c) =>
      (ResidentServe.dist(qv, c, ipMetric), cid)
    }.sortBy(identity)

  /** The routed index's vector dimension; -1 without centroids. */
  private val dim: Int = centroids.headOption.fold(-1)(_._2.length)

  /** Route one query: the `nprobe` nearest cluster ids. */
  private def route(qv: Array[Float], nprobe: Int): Array[Int] =
    rankCentroids(qv).take(nprobe).map(_._2)

  /** HNSW over the centroids under the INDEX metric (ip routes by negated
    * dot, same as [[rankCentroids]]) — the O(efRoute·log C) router for the
    * regime where C reaches the hundreds of thousands and the linear rank
    * above is the per-query serial floor (see [[CoarseRouter]]'s graph
    * notes; faiss's IVF_HNSW shape). Built deterministically from the
    * centroid array on first use; concurrent searches are safe. */
  @transient private lazy val centroidGraph: HnswIndex = {
    val g = new HnswIndex(m = 16, efConstruction = 100,
      metric = if (ipMetric) "ip" else "l2")
    centroids.foreach { case (cid, cvec) => g.add(cid.toLong, cvec) }
    g
  }

  /** Graph-ranked centroid prefix as (dist asc, cid asc); `efRoute` ≥ C
    * falls back to the exact linear rank. */
  private def rankCentroidsGraph(qv: Array[Float], width: Int,
                                 efRoute: Int): Array[(Double, Int)] =
    if (efRoute >= centroids.length) rankCentroids(qv)
    else centroidGraph.search(qv, k = width, ef = efRoute)
      .map { case (cid, d) => (d, cid.toInt) }

  /** Mass-adaptive routing: walk centroids in metric order and stop once
    * the probed clusters hold ≥ `minMass` of the corpus (or `maxNprobe`
    * clusters, whichever first). A fixed nprobe probes a data-dependent
    * row count — under cluster skew a query near a giant cluster wastes
    * probes and a query in a sparse region starves. Population is the
    * quantity recall actually trades against, so the knob is a corpus
    * fraction; minMass = 1.0 degenerates to the full fan-out (exact with
    * an exhaustive beam). Needs `clusterSizes` (loadResident records them;
    * one aggregate over the node layout). */
  private[graft] def routeByMass(qv: Array[Float], minMass: Double,
                                 maxNprobe: Int,
                                 efRoute: Int = Int.MaxValue): Array[Int] = {
    require(clusterSizes.nonEmpty, "mass routing needs clusterSizes")
    val total = clusterSizes.valuesIterator.sum.toDouble
    val ranked = rankCentroidsGraph(qv, efRoute, efRoute)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var mass = 0.0
    var i = 0
    while (i < ranked.length && out.length < maxNprobe &&
           (out.isEmpty || mass < minMass * total)) {
      val cid = ranked(i)._2
      out += cid
      mass += clusterSizes.getOrElse(cid, 0L).toDouble
      i += 1
    }
    out.toArray
  }

  /** Serving-form batch probe: query array in, (qid, id, dist, rank) out,
    * sorted by (qid, rank). One broadcast + one narrow job per batch, whose
    * tasks launch only on the partitions holding a routed cluster's graph
    * (`shardsOf`, recorded at load); a graph only evaluates the queries
    * routed to it. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int, efSearch: Int = 64,
                 nprobe: Int = 2,
                 efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] =
    probeRouted(qs,
      qv => rankCentroidsGraph(qv, nprobe, efRoute).take(nprobe).map(_._2),
      k, efSearch)

  /** [[probeBatch]] with mass-adaptive routing instead of a fixed nprobe. */
  def probeBatchAuto(qs: Array[(Long, Array[Float])], k: Int,
                     efSearch: Int = 64, minMass: Double = 0.5,
                     maxNprobe: Int = Int.MaxValue,
                     efRoute: Int = Int.MaxValue): Array[(Long, Long, Double, Long)] =
    probeRouted(qs, qv => routeByMass(qv, minMass, maxNprobe, efRoute), k,
      efSearch)

  private def probeRouted(qs: Array[(Long, Array[Float])],
                          routeFn: Array[Float] => Array[Int], k: Int,
                          efSearch: Int): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    val byPart = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    qs.iterator.zipWithIndex.foreach { case ((_, qv), qi) =>
      routeFn(qv).foreach { cid =>
        byPart.getOrElseUpdate(cid, scala.collection.mutable.ArrayBuffer.empty) += qi
      }
    }
    val routesByPart: Map[Int, Array[Int]] =
      byPart.iterator.map { case (cid, qis) => cid -> qis.toArray }.toMap
    // the merge-regime gate is the ESTIMATED fan-in itself — each probed
    // cluster emits k rows per routed query, so the fan-in is (routed
    // pairs)·k: at C=20,000 with a 25% sweep point that is ~25M rows (>1 GB
    // serialized), which must reduce to nq·k BEFORE the driver (the grid's
    // big-fraction points killed the first 10M-row run on
    // spark.driver.maxResultSize). routesByPart is in hand before the job
    // launches; the partition count alone would not gate it — a large-C
    // index whose node parquet reads in fewer than treeAt splits would
    // otherwise take the raw collect with the same oversized fan-in.
    val fanIn = routesByPart.valuesIterator.map(_.length.toLong).sum * k
    val parts = routesByPart.keysIterator
      .flatMap(shardsOf.getOrElse(_, Array.empty[Int])).toSeq.distinct.sorted
    ResidentServe.probe(rdd, (qs, routesByPart), qs.length, k,
        estRows = fanIn, parts = Some(parts)) { (shard, batch) =>
      val (part, idx) = shard
      val (queries, routes) = batch
      routes.get(part) match {
        case None => Iterator.empty
        case Some(qis) => qis.iterator.flatMap { qi =>
          val (qid, qv) = queries(qi)
          idx.search(qv, k, efSearch).iterator.map { case (id, d) => (qid, id, d) }
        }
      }
    }
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends. */
  def probeLocal(queries: DataFrame, k: Int, efSearch: Int = 64,
                 nprobe: Int = 2, efRoute: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(probeBatch(qs, k, efSearch, nprobe, efRoute).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  /** [[probeBatchAuto]] with DataFrame plumbing on both ends. */
  def probeLocalAuto(queries: DataFrame, k: Int, efSearch: Int = 64,
                     minMass: Double = 0.5,
                     maxNprobe: Int = Int.MaxValue,
                     efRoute: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(
      probeBatchAuto(qs, k, efSearch, minMass, maxNprobe, efRoute).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  def unload(): Unit = rdd.unpersist()
}

object HnswRouted {

  /** Build: k-means coarse centroids (on the base or a sample), one HNSW
    * graph per cluster, persisted in the [[HnswNodeRow]] parquet layout with
    * `part` = cluster id; centroids in a `<path>.centroids` sidecar. At
    * 100 TB the assignment pass is the only full scan, the per-cluster
    * builds run as C independent groups, and the artifact's partition-by-
    * part layout prunes loads to the probed clusters. */
  def buildAndSave(base: DataFrame, path: String, c: Int, kmIters: Int = 3,
                   m: Int = 16, efConstruction: Int = 100,
                   metric: String = "l2", atScale: Boolean = false,
                   n: Long = 0L, graphAssign: Boolean = false): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    val vecs = base.select(col("id").cast("long"), col("vec"))
    // atScale: Lloyd trains on a deterministic ~64·C-row sample, with the
    // per-iteration TRAINING assignment beam-served past
    // IvfIndex.graphAssignMinC clusters. The one FULL assignment pass
    // stays the EXACT linear argmin by default — the same invariant as
    // IvfIndex.buildAtScale (its scaladoc carries the measured price
    // sheet: beam-assigning the full pass at efRoute = 48 cost 3× the
    // matched-recall mass on every IVF family). `graphAssign = true` opts
    // the full pass into the beam at 4× the training width, for the
    // C ≳ 10⁵ regime where even one exact pass is unaffordable. Default
    // false keeps every existing build byte-identical.
    val gaTrain = atScale && c >= IvfIndex.graphAssignMinC
    val fitBase = if (atScale) KMeans.trainSample(vecs, c, n) else vecs
    val centroids = KMeans.fit(fitBase, c, kmIters, gaTrain)
    val assigned =
      if (graphAssign && gaTrain)
        KMeans.assignCarryGraph(vecs, centroids, efRoute = 192)
      else KMeans.assignCarry(vecs, centroids)
    val nodes = assigned
      .select(col("cid").cast("int"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val rows = it.toArray.sortBy(_._2) // deterministic insertion order
        val idx = new HnswIndex(m, efConstruction, metric)
        rows.foreach { case (_, id, v) => idx.add(id, v) }
        val (ep, ml) = idx.entryState
        idx.exportNodes.iterator.zipWithIndex.map {
          case ((id, vec, level, links), seq) =>
            HnswNodeRow(cid, seq, id, vec, Array.empty[Int], level, links,
              ep, ml, metric)
        }
      }
    nodes.toDF().write.mode("overwrite").partitionBy("part").parquet(path)
    centroids.select(col("cid").cast("int"), col("cvec"))
      .write.mode("overwrite").parquet(path + ".centroids")
  }

  /** Load the routed graphs executor-resident and the routing table (C
    * centroid vectors) driver-side. */
  def loadResident(spark: SparkSession, path: String): HnswRouted = {
    import spark.implicits._
    val metric =
      spark.read.parquet(path).select("metric").head().getString(0)
    // one RDD partition PER cluster graph, by exact index: the default
    // hash partitioner co-locates colliding cluster ids in one partition
    // (≈1/e of partitions empty at C ≈ partition count), and a probe task
    // walks its partition's graphs serially — collisions silently cap the
    // batch's task fan and skew routed-probe load (the same defect fixed
    // in TagSubindexes.loadResident). The cluster-id universe is known
    // from the layout, so an exact map costs one metadata-scale distinct.
    val partIds = spark.read.parquet(path).select(col("part").cast("int"))
      .distinct().as[Int].collect().sorted
    val pIdx = partIds.zipWithIndex.toMap
    val exact = new org.apache.spark.Partitioner {
      def numPartitions: Int = math.max(1, partIds.length)
      def getPartition(key: Any): Int =
        pIdx.getOrElse(key.asInstanceOf[Int],
          math.floorMod(key.asInstanceOf[Int], math.max(1, partIds.length)))
    }
    val rdd = spark.read.parquet(path).as[HnswNodeRow].rdd
      .groupBy((r: HnswNodeRow) => r.part, exact)
      .map { case (part, rows) =>
        val arr = rows.toArray.sortBy(_.seq)
        val idx = HnswIndex.fromState(
          arr.map(r => (r.id, r.vec, r.level, r.links)).toIndexedSeq,
          arr.head.entryPoint, arr.head.maxLevel, arr.head.metric)
        (part, idx)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the graphs before the first probe, recording which
    // partition holds each cluster's graph
    val (_, shardsOf) = ResidentServe.materializeKeyed(rdd)(_._1)(
      _ => Iterator.empty)
    val centroids = spark.read.parquet(path + ".centroids")
      .select(col("cid").cast("int"), col("cvec"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    // cluster populations for mass-adaptive routing: one aggregate over the
    // partition column — parquet answers it from footer row counts
    val sizes = spark.read.parquet(path).groupBy(col("part"))
      .count().as[(Int, Long)].collect().toMap
    new HnswRouted(spark, rdd, centroids, metric == "ip", shardsOf, sizes)
  }
}
