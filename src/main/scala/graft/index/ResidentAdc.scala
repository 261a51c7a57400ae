package graft.index

import graft.operators.Metric
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident PQ-coded shard: flat code matrix (m shorts per
  * row, row-major) plus the float rows for the in-shard exact re-rank.
  * Codes are what the scan READS (O(m) table gathers per row instead of an
  * O(d) float loop); floats are touched only for the `rerank` best rows
  * per query. */
final case class AdcShard(ids: Array[Long], codes: Array[Short], m: Int,
                          vecs: Array[Array[Float]])

/** Executor-resident PQ-ADC serving — the quantized member of the resident
  * family ([[ResidentScan]] floats, [[HnswResident]] graphs,
  * [[ResidentPostings]] postings): the reference baseline serves SQ8 codes
  * from RAM with a float refine (`indexkey=IVF16384,SQ8` +
  * refine, /root/reference/filter/faiss/config.yaml:50-53); this is the PQ
  * twin. Build once ([[ResidentAdc.load]] encodes and pins), then a probe
  * batch is: per-query LUTs built client-side (m·stride doubles each), one
  * broadcast, one narrow job — ADC gather-scan per shard, in-shard exact
  * re-rank of the `rerank` best — and a [[ProbeMerge]] fan-in.
  *
  * Results: with a lossless codebook the ADC scan IS exact squared-L2, so
  * the serving answer hash-matches brute force (the same degenerate-point
  * gate every approximate family carries). With a trained codebook the
  * per-shard rerank buffers union to a SUPERSET of the dataflow's global
  * rerank set, so serving recall is at least [[Pq.adcKnnCodes]]'s at the
  * same codebook and rerank (spec-asserted).
  *
  * Scale story: codes are m·2 bytes per row (the artifact a 100 TB corpus
  * actually fits in executor memory); shards are the scale-out axis;
  * queries broadcast; k·nq·P candidates fan in (tree-merged past 64
  * shards).
  *
  * Regime bound (measured, 10M-row decade): the refine budget `rerank`
  * is CORPUS-RELATIVE — the code scan's false positives grow with the
  * scanned population, so a fixed budget's recall ceilings (r8: 0.54 at
  * rerank=640 on 10M rows) and the bench escalates rerank by doubling
  * until 0.9 recall or a < 0.005/doubling plateau. At 10M rows the
  * family reaches 0.90 only at rerank ≈ 2,560 and ~21 q/s — an order
  * below the SQ8/residual codes at the same recall (65–94 q/s), whose
  * tighter codes hold 0.93+ with rerank 80. Past ~1M rows prefer
  * [[ResidentIvfSq8]] or the residual [[ResidentIvfAdc]]; this flat
  * form's regime is the sub-million decade and the exact degenerate
  * gate. */
final class ResidentAdc(spark: SparkSession, rdd: RDD[AdcShard],
                        cb: Pq.Codebook, metric: String,
                        rot: Option[Opq.Rotation], dim: Int) {

  /** Serving-form batch probe: (qid, qvec) rows in, (qid, id, dist, rank)
    * out, dist = the exact metric distance of the re-ranked rows, ordering
    * (dist asc, id asc) — identical to [[Pq.adcKnnCodes]]. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int, rerank: Int,
                 treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    ResidentServe.validate(k, dim, qs.iterator.map(_._2.length))
    val stride = cb.stride
    val ip = metric == Metric.Ip
    // per-query LUTs prepared once per batch, client-side (the reference
    // computes its query-side tables outside the scan too). Under an OPQ
    // rotation the LUT is built from the ROTATED query (codes live in the
    // rotated space) while qv stays original — the re-rank floats are
    // original-space, so rotation never touches the reported distances.
    val luts = qs.map { case (qid, qv) =>
      (qid, qv, Pq.lutLocal(rot.map(_(qv)).getOrElse(qv), cb, metric))
    }
    ResidentServe.probe(rdd, luts, qs.length, k, treeMergeAt) { (shard, batch) =>
      val m = shard.m
      val n = shard.ids.length
      batch.iterator.flatMap { case (qid, qv, lut) =>
        // rerank-bounded buffer over ADC distances, carrying each row's
        // floats for the refine
        val coarse = new TopKBuffer(rerank, carryVecs = true)
        var row = 0
        while (row < n) {
          val off = row * m
          var acc = 0.0
          var j = 0
          while (j < m) {
            acc += lut(j * stride + shard.codes(off + j))
            j += 1
          }
          coarse.offer(acc, shard.ids(row), shard.vecs(row))
          row += 1
        }
        // exact re-rank of the survivors against the resident floats —
        // the refine step, touching only `rerank` rows per (query, shard) —
        // then emit only this shard's k best
        coarse.refine(k)(v => ResidentServe.dist(qv, v, ip)).rows(qid)
      }
    }
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends. */
  def probeLocal(queries: DataFrame, k: Int, rerank: Int): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(probeBatch(qs, k, rerank).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  def unload(): Unit = rdd.unpersist()
}

object ResidentAdc {
  /** Encode `base` = (id, vec) with `cb` and pin code+float shards
    * resident. Build once, probe many. */
  def load(base: DataFrame, cb: Pq.Codebook, numPartitions: Int,
           metric: String = Metric.L2): ResidentAdc =
    loadImpl(base, cb, numPartitions, metric, rot = None)

  /** [[load]] with an OPQ rotation: shards hold ROTATED codes (what the
    * gather-scan reads) next to the ORIGINAL floats (what the re-rank
    * reads), so served answers carry original-space distances — with a
    * lossless rotated codebook they hash-match brute force exactly, the
    * same contract as the unrotated ann_pq_served_exact gate. Works for ip
    * too (an orthonormal rotation preserves inner products). */
  def loadRotated(base: DataFrame, rot: Opq.Rotation, cb: Pq.Codebook,
                  numPartitions: Int, metric: String = Metric.L2): ResidentAdc =
    loadImpl(base, cb, numPartitions, metric, rot = Some(rot))

  private def loadImpl(base: DataFrame, cb: Pq.Codebook, numPartitions: Int,
                       metric: String, rot: Option[Opq.Rotation]): ResidentAdc = {
    val spark = base.sparkSession
    import spark.implicits._
    val m = cb.m
    val coded = rot match {
      case Some(r) =>
        // encode the rotated view, keep the original floats for the refine
        Pq.encode(base.select(col("id").cast("long"),
            Opq.rotateCol(r, col("vec")).as("vec"), col("vec").as("ovec")), cb)
          .select(col("id"), col("ovec").as("vec"), col("codes"))
      case None =>
        Pq.encode(base.select(col("id").cast("long"), col("vec")), cb)
    }
    val rdd = coded
      .select(col("id"), col("vec"), col("codes"))
      .repartition(numPartitions, col("id"))
      .as[(Long, Array[Float], Array[Short])].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        val codes = new Array[Short](rows.length * m)
        var r = 0
        while (r < rows.length) {
          System.arraycopy(rows(r)._3, 0, codes, r * m, m)
          r += 1
        }
        Iterator.single(AdcShard(rows.map(_._1), codes, m, rows.map(_._2)))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    new ResidentAdc(spark, rdd, cb, metric, rot,
      ResidentServe.materialize(rdd)(_.vecs.iterator.map(_.length)))
  }
}
