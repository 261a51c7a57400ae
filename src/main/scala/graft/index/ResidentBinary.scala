package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident shard of packed sign codes: parallel arrays of row
  * ids and their [[graft.functions.VecSignPack]] codes (one long per 64
  * dims — a 64-d float row is ONE machine word here, 32× smaller than the
  * float form a [[ScanShard]] pins). `vecs` is empty unless the shard was
  * loaded with `pinFloats` for the two-tier re-rank probe (the
  * [[ResidentAdc]] codes-plus-refine layout, binary edition). */
final case class BinaryShard(ids: Array[Long], codes: Array[Array[Long]],
                             vecs: Array[Array[Float]])

/** Executor-resident EXACT Hamming serving over packed sign codes — the
  * faiss IndexBinaryFlat serving shape: the whole corpus pins as machine
  * words, a probe batch is one broadcast + one narrow job, and the per-pair
  * kernel is XOR+popcount. Results equal
  * [[graft.operators.Knn.knnHamming]] row-for-row (integer distances, no
  * rounding anywhere; ranking (dist asc, id asc)).
  *
  * Scale story: the binary tier is the cheapest resident scan there is —
  * at 100 TB of float vectors the packed corpus is ~3 TB, so a modest
  * cluster pins ALL of it and brute-scans exactly; shards are the
  * scale-out axis and k·nq·P candidates merge through the same two-level
  * [[ProbeMerge]] as every other resident form. Typical use: binary
  * first-pass retrieval feeding a float re-rank (the candidates-first
  * pattern of [[graft.operators.Dedup.embedNearDups]]). */
final class ResidentBinary(spark: SparkSession, rdd: RDD[BinaryShard],
                           words: Int, dim: Int) {

  /** Serving-form batch probe: `qs` = (qid, packed query code). Returns
    * (qid, id, dist, rank) sorted by (qid, rank); dist is the integer
    * Hamming distance carried as double (≤ dim, exact). */
  def probeBatch(qs: Array[(Long, Array[Long])], k: Int,
                 treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, words, qs.iterator.map(_._2.length))
    ResidentServe.probe(rdd, qs, qs.length, k, treeMergeAt) { (shard, queries) =>
      queries.iterator.flatMap { case (qid, qc) =>
        val top = new TopKBuffer(k)
        var r = 0
        while (r < shard.ids.length) {
          top.offer(ResidentBinary.hamming(qc, shard.codes(r)).toDouble, shard.ids(r))
          r += 1
        }
        top.rows(qid)
      }
    }
  }

  /** Two-tier serving probe: per shard, the packed codes pick the `c`
    * Hamming-nearest candidates ((hd asc, id asc) — the same deterministic
    * rule as [[graft.operators.Knn.knnHammingRerank]]), then ONLY those c
    * rows pay the float L2 kernel in-shard and the per-shard float top-k
    * merges as usual. Requires `pinFloats` at load.
    *
    * Candidate relationship to the dataflow form: the global Hamming top-c
    * is contained in the union of per-shard Hamming top-c's, so the served
    * candidate pool is a SUPERSET of the dataflow's and its fidelity to
    * exact float kNN is ≥ the dataflow's at equal c (spec-asserted); at
    * c ≥ max shard population the result IS exact float kNN (the
    * `knn_hamming_rerank_served_exact` hash gate). `qs` = (qid, packed
    * code, float query). Returns (qid, id, float dist, rank). */
  def probeBatchRerank(qs: Array[(Long, Array[Long], Array[Float])], k: Int,
                       c: Int, treeMergeAt: Int = 64,
                       metric: String = graft.operators.Metric.L2): Array[(Long, Long, Double, Long)] = {
    require(c >= k, s"rerank budget c=$c must be >= k=$k")
    ResidentServe.validate(k, words, qs.iterator.map(_._2.length))
    ResidentServe.validate(k, dim, qs.iterator.map(_._3.length))
    // tier 2's float kernel: L2 or negated inner product (the OOD track's
    // metric — text2image-style corpora rerank by ip, and the binary tier
    // is metric-blind so only this refine step changes)
    val ip = metric == graft.operators.Metric.Ip
    ResidentServe.probe(rdd, qs, qs.length, k, treeMergeAt) { (shard, queries) =>
      require(shard.vecs.nonEmpty || shard.ids.isEmpty,
        "probeBatchRerank needs pinFloats=true at load")
      val n = shard.ids.length
      // per-shard budget never exceeds the shard population (c = ∞ is the
      // exact-degenerate point, not a giant allocation)
      val cc = math.max(1, math.min(c, n))
      if (n == 0) Iterator.empty
      else queries.iterator.flatMap { case (qid, qc, qv) =>
        // tier 1: Hamming top-c over packed codes
        val coarse = new TopKBuffer(cc, carryVecs = true)
        var r = 0
        while (r < n) {
          coarse.offer(ResidentBinary.hamming(qc, shard.codes(r)).toDouble,
            shard.ids(r), shard.vecs(r))
          r += 1
        }
        // tier 2: exact float distance on the survivors only, top-k
        coarse.refine(k)(v => ResidentServe.dist(qv, v, ip)).rows(qid)
      }
    }
  }

  /** [[probeBatchRerank]] with DataFrame plumbing: `queries` needs
    * (qid, qvec). */
  def probeLocalRerank(queries: DataFrame, k: Int, c: Int,
                       metric: String = graft.operators.Metric.L2): DataFrame = {
    import graft.functions.vectors._
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), vecSignPack(col("qvec")).as("qcode"),
        col("qvec"))
      .as[(Long, Array[Long], Array[Float])].collect()
    spark.createDataFrame(probeBatchRerank(qs, k, c, metric = metric).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  /** [[probeBatch]] with DataFrame plumbing: `queries` needs (qid, qvec);
    * packing happens here, results equal
    * [[graft.operators.Knn.knnHamming]]. */
  def probeLocal(queries: DataFrame, k: Int): DataFrame = {
    import graft.functions.vectors._
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), vecSignPack(col("qvec")).as("qcode"))
      .as[(Long, Array[Long])].collect()
    spark.createDataFrame(probeBatch(qs, k).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

  def unload(): Unit = rdd.unpersist()
}

object ResidentBinary {
  /** Pack and pin a float corpus — (id, vec) — as resident binary shards.
    * Build once, probe many. `pinFloats` additionally pins the float rows
    * next to their codes for [[ResidentBinary.probeBatchRerank]] (the
    * codes-plus-refine layout; without it only the 32×-compressed codes
    * occupy memory). */
  def load(base: DataFrame, numPartitions: Int,
           pinFloats: Boolean = false): ResidentBinary = {
    import graft.functions.vectors._
    val spark = base.sparkSession
    import spark.implicits._
    // codes-only loads never shuffle the float rows — only the 32×-packed
    // codes cross the exchange
    val rdd = (if (pinFloats)
      base.select(col("id").cast("long"), vecSignPack(col("vec")).as("code"),
          col("vec"))
        .repartition(numPartitions, col("id"))
        .as[(Long, Array[Long], Array[Float])].rdd
    else
      base.select(col("id").cast("long"), vecSignPack(col("vec")).as("code"))
        .repartition(numPartitions, col("id"))
        .as[(Long, Array[Long])].rdd
        .map { case (id, code) => (id, code, null: Array[Float]) })
      .mapPartitions { it =>
        val rows = it.toArray
        Iterator.single(BinaryShard(rows.map(_._1), rows.map(_._2),
          if (pinFloats) rows.map(_._3) else Array.empty))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pinned floats fix the dimension, and vec_sign_pack's one word per 64
    // components the code width; codes-only shards know only their width
    val d = ResidentServe.materialize(rdd)(s =>
      if (pinFloats) s.vecs.iterator.map(_.length)
      else s.codes.iterator.map(_.length))
    if (pinFloats) new ResidentBinary(spark, rdd,
      if (d < 0) -1 else (d + 63) >>> 6, d)
    else new ResidentBinary(spark, rdd, d, -1)
  }

  /** Hamming distance between two packed sign codes of equal length. */
  private def hamming(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) { acc += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    acc
  }
}
