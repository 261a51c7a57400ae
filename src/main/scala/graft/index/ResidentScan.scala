package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident corpus shard in struct-of-arrays form: parallel
  * arrays over the shard's rows. The layout a scan server keeps hot in RAM
  * (the reference's filter track pins the float matrix + CSR tag postings +
  * per-row signatures in process memory, faiss.py:97-124,369-371). */
final case class ScanShard(ids: Array[Long], vecs: Array[Array[Float]],
                           tags: Array[Array[Int]], sigs: Array[Long])

/** Executor-resident EXACT filtered-kNN serving: the corpus is pinned once
  * as [[ScanShard]] partitions; each query batch is one broadcast + one
  * narrow job; per-shard bounded top-k candidates merge driver-side. This is
  * the serving shape of the filter track — same results as
  * [[graft.operators.TagFilter.filteredKnn]] (signature test is lossless,
  * distances are the same double kernels), but a probe batch never touches
  * parquet, never shuffles, and pays exactly one stage.
  *
  * Scale story: shards ARE the scale-out axis (1000 executors pin 1000
  * shards); queries broadcast (small by workload definition); k·nq·P
  * candidate rows return — the classic distributed serving fan-out. The
  * signature prefilter does the reference's bloom-skip work
  * (bow_id_selector.swig:107-130) before any distance is computed. */
final class ResidentScan(spark: SparkSession, rdd: RDD[ScanShard],
                         ipMetric: Boolean, dim: Int) {

  /** Serving-form batch probe. `qs` rows are (qid, qvec, qtags, qsig) with
    * qsig = OR of the query tags' signatures (same bit layout as the base
    * side — build with [[graft.operators.TagFilter.withSignature]]).
    * Returns (qid, id, dist, rank) sorted by (qid, rank); ranking is
    * (dist asc, id asc), identical to the dataflow path. */
  def probeBatch(qs: Array[(Long, Array[Float], Array[Int], Long)],
                 k: Int,
                 treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    val ip = ipMetric
    ResidentServe.probe(rdd, qs, qs.length, k, treeMergeAt) { (shard, queries) =>
      val n = shard.ids.length
      queries.iterator.flatMap { case (qid, qv, qt, qsig) =>
        val top = new TopKBuffer(k)
        var r = 0
        while (r < n) {
          if ((qsig & ~shard.sigs(r)) == 0L) { // lossless bloom-skip
            val rowTags = shard.tags(r)
            var ti = 0
            var all = true
            while (all && ti < qt.length) {
              if (!rowTags.contains(qt(ti))) all = false
              ti += 1
            }
            if (all)
              top.offer(ResidentServe.dist(qv, shard.vecs(r), ip), shard.ids(r))
          }
          r += 1
        }
        top.rows(qid)
      }
    }
  }

  /** Exact top-k over the rows whose id falls in one of `ranges` (disjoint,
    * sorted by start) — the serving form of a runbook checkpoint: the live
    * set travels as an O(#ops) range mask, the corpus stays pinned. Tags
    * and signatures are ignored; ranking is (dist asc, id asc), identical
    * to [[graft.operators.Knn.knnJoin]]. */
  def probeBatchRanges(qs: Array[(Long, Array[Float])], k: Int,
                       ranges: Array[(Long, Long)],
                       treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    val ip = ipMetric
    ResidentServe.probe(rdd, (qs, ranges), qs.length, k, treeMergeAt) {
      (shard, batch) =>
        val (queries, mask) = batch
        val starts = mask.map(_._1)
        def liveId(id: Long): Boolean = {
          var p = java.util.Arrays.binarySearch(starts, id)
          if (p < 0) p = -p - 2 // last range starting at or before id
          p >= 0 && id < mask(p)._2
        }
        val n = shard.ids.length
        queries.iterator.flatMap { case (qid, qv) =>
          val top = new TopKBuffer(k)
          var r = 0
          while (r < n) {
            val id = shard.ids(r)
            if (liveId(id)) top.offer(ResidentServe.dist(qv, shard.vecs(r), ip), id)
            r += 1
          }
          top.rows(qid)
        }
    }
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends; results equal
    * [[graft.operators.TagFilter.filteredKnn]] row-for-row. `queries`
    * needs (qid, qvec, qtags, qsig). */
  def probeLocal(queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("qvec"), col("qtags"),
        col("qsig").cast("long"))
      .as[(Long, Array[Float], Array[Int], Long)].collect()
    ResidentServe.frame(spark, probeBatch(qs, k))
  }

  def unload(): Unit = rdd.unpersist()
}

object ResidentScan {
  /** Pin a tagged corpus — (id, vec, tags) — as resident scan shards with
    * precomputed signatures. Build once, probe many. */
  def load(base: DataFrame, numPartitions: Int,
           metric: String = graft.operators.Metric.L2): ResidentScan = {
    val spark = base.sparkSession
    import spark.implicits._
    val ip = metric match {
      case graft.operators.Metric.L2 => false
      case graft.operators.Metric.Ip => true
      case other => throw new IllegalArgumentException(
        s"ResidentScan supports l2 | ip, got $other")
    }
    val rdd = graft.operators.TagFilter.withSignature(base, "tags")
      .select(col("id").cast("long"), col("vec"), col("tags"),
        col("sig").cast("long"))
      .repartition(numPartitions, col("id"))
      .as[(Long, Array[Float], Array[Int], Long)].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        Iterator.single(ScanShard(rows.map(_._1), rows.map(_._2),
          rows.map(_._3), rows.map(_._4)))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    new ResidentScan(spark, rdd, ip,
      ResidentServe.materialize(rdd)(_.vecs.iterator.map(_.length)))
  }
}
