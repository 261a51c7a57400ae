package graft.index

import org.apache.spark.rdd.RDD
import scala.collection.mutable

/** Per-query top-k merge for resident serving probes (graph, scan,
  * postings): every probe fans out to P resident partitions, each returning
  * at most k candidates per query, and the k·nq·P candidate rows must merge
  * to one ranked top-k per query.
  *
  * Two regimes:
  *  - small P: collect the candidates and merge on the driver — one narrow
  *    stage, no exchange, k·nq·P rows are driver-sized (this is the serving
  *    fast path, same as the reference collecting per-thread heaps);
  *  - large P (a thousand-shard cluster): the driver merge becomes the
  *    serving ceiling, so a `treeAggregate` combines per-executor FIRST and
  *    the driver only merges O(√P) pre-reduced maps (two-level merge).
  *
  * Both paths produce IDENTICAL rows: a duplicate id always carries an
  * identical distance (distance is a pure function of the query and the
  * id's vector, wherever the id is resident), so bounded top-k with
  * id-dedup is associative and commutative — merge order cannot change the
  * result. Ordering is (dist asc, id asc), ranks 1..k, output sorted by
  * (qid, rank) — the contract every probeBatch documents. */
private[index] object ProbeMerge {

  /** Collect-regime row budget: at ~80 serialized bytes per
    * (Long, Long, Double) tuple, 4M rows stay well under
    * spark.driver.maxResultSize's 1 GB default. The partition-count
    * `treeAt` gate alone is not volume-safe — a large-C index whose node
    * parquet happens to read in few splits would take the raw collect with
    * an nq·nprobe·k fan-in and abort — so every merge entry point also
    * takes `estRows`, the caller's fan-in bound (every resident probe can
    * bound it before launching: ≤ nq·k per shard under the per-shard
    * top-k contract, or the exact routed-pair count when routing is in
    * hand), and the collect regime is taken only when BOTH gates pass. */
  val maxCollectRows: Long = 4000000L

  /** Merge two (id, dist) arrays, each sorted by (dist asc, id asc), into
    * one: dedup by id, truncate to k. Package-visible: [[MaxSimServe]]'s
    * distributed regime reuses it as its reduceByKey combiner. */
  private[index] def mergeTwo(a: Array[(Long, Double)], b: Array[(Long, Double)],
                              k: Int): Array[(Long, Double)] = {
    // no early return even when one side is empty: the non-empty side may
    // still carry a duplicate id (graph-resident + delta re-insert of the
    // same id land in different partitions), and the contract is that the
    // driver-collect and treeAggregate paths produce identical deduped rows
    val out = new mutable.ArrayBuffer[(Long, Double)](
      math.min(a.length + b.length, k))
    val seen = mutable.HashSet.empty[Long]
    var i = 0
    var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length &&
        (a(i)._2 < b(j)._2 || (a(i)._2 == b(j)._2 && a(i)._1 <= b(j)._1)))
      val c = if (takeA) { i += 1; a(i - 1) } else { j += 1; b(j - 1) }
      if (seen.add(c._1)) out += c
    }
    out.toArray
  }

  private def sortCands(cand: Array[(Long, Double)]): Array[(Long, Double)] =
    cand.sortBy(c => (c._2, c._1))

  private def finish(m: mutable.LongMap[Array[(Long, Double)]],
                     k: Int): Array[(Long, Long, Double, Long)] = {
    val out = Array.newBuilder[(Long, Long, Double, Long)]
    m.toSeq.sortBy(_._1).foreach { case (qid, cand) =>
      var r = 0
      while (r < cand.length && r < k) {
        out += ((qid, cand(r)._1, cand(r)._2, (r + 1).toLong))
        r += 1
      }
    }
    out.result()
  }

  /** [[topK]] for integer-score candidates ranked (score DESC, id asc) —
    * the sparse postings serving domain, kept in exact Long arithmetic
    * (scores are sums of tf products; a double round-trip could lose
    * precision past 2^53). Implemented by order reversal: merge on
    * negated scores, emit the originals. */
  def topKByScore(candidates: RDD[(Long, Long, Long)], k: Int,
                  treeAt: Int = 64,
                  estRows: Long = -1L): Array[(Long, Long, Long, Long)] = {
    // Long.MinValue can't negate; scores here are non-negative sums, but
    // guard the domain explicitly rather than silently corrupting ranks
    val asDist = candidates.map { case (qid, id, s) =>
      require(s != Long.MinValue, "score domain")
      (qid, id, -s)
    }
    topKLong(asDist, k, treeAt, estRows).map { case (qid, id, negS, r) =>
      (qid, id, -negS, r)
    }
  }

  /** True when the one-narrow-job driver collect is safe: few enough
    * partitions AND (when the caller bounded it) few enough rows. estRows
    * < 0 = caller could not bound the fan-in; the partition gate alone
    * then applies, as before. */
  private def collectRegime(parts: Int, treeAt: Int, estRows: Long): Boolean =
    parts < treeAt && (estRows < 0L || estRows <= maxCollectRows)

  /** Exact-Long variant of [[topK]]: same two regimes, (dist asc, id asc)
    * over Long distances. */
  private def topKLong(candidates: RDD[(Long, Long, Long)], k: Int,
                       treeAt: Int,
                       estRows: Long = -1L): Array[(Long, Long, Long, Long)] = {
    def mergeTwoL(a: Array[(Long, Long)], b: Array[(Long, Long)],
                  k: Int): Array[(Long, Long)] = {
      // no empty-side early return — see mergeTwo: dedup must always run
      val out = new mutable.ArrayBuffer[(Long, Long)](
        math.min(a.length + b.length, k))
      val seen = mutable.HashSet.empty[Long]
      var i = 0
      var j = 0
      while (out.length < k && (i < a.length || j < b.length)) {
        val takeA = j >= b.length || (i < a.length &&
          (a(i)._2 < b(j)._2 || (a(i)._2 == b(j)._2 && a(i)._1 <= b(j)._1)))
        val c = if (takeA) { i += 1; a(i - 1) } else { j += 1; b(j - 1) }
        if (seen.add(c._1)) out += c
      }
      out.toArray
    }
    def finishL(m: mutable.LongMap[Array[(Long, Long)]]): Array[(Long, Long, Long, Long)] = {
      val out = Array.newBuilder[(Long, Long, Long, Long)]
      m.toSeq.sortBy(_._1).foreach { case (qid, cand) =>
        var r = 0
        while (r < cand.length && r < k) {
          out += ((qid, cand(r)._1, cand(r)._2, (r + 1).toLong))
          r += 1
        }
      }
      out.result()
    }
    if (collectRegime(candidates.getNumPartitions, treeAt, estRows)) {
      val local = candidates.collect()
      val m = mutable.LongMap.empty[Array[(Long, Long)]]
      local.groupBy(_._1).foreach { case (qid, cand) =>
        m(qid) = mergeTwoL(
          cand.map(c => (c._2, c._3)).sortBy(c => (c._2, c._1)),
          Array.empty, k)
      }
      finishL(m)
    } else {
      finishL(candidates.treeAggregate(
        mutable.LongMap.empty[Array[(Long, Long)]])(
        seqOp = { (m, c) =>
          m(c._1) = mergeTwoL(m.getOrElse(c._1, Array.empty),
            Array((c._2, c._3)), k)
          m
        },
        combOp = { (m1, m2) =>
          m2.foreach { case (qid, cand) =>
            m1(qid) = mergeTwoL(m1.getOrElse(qid, Array.empty), cand, k)
          }
          m1
        },
        depth = 2))
    }
  }

  /** Merge `(qid, id, dist)` candidate rows to ranked per-query top-k.
    * Driver merge below `treeAt` resident partitions AND below the
    * `estRows` volume bound; two-level treeAggregate otherwise. */
  def topK(candidates: RDD[(Long, Long, Double)], k: Int,
           treeAt: Int = 64,
           estRows: Long = -1L): Array[(Long, Long, Double, Long)] = {
    if (collectRegime(candidates.getNumPartitions, treeAt, estRows)) {
      val local = candidates.collect()
      val m = mutable.LongMap.empty[Array[(Long, Double)]]
      local.groupBy(_._1).foreach { case (qid, cand) =>
        m(qid) = mergeTwo(
          sortCands(cand.map(c => (c._2, c._3))), Array.empty, k)
      }
      finish(m, k)
    } else {
      // seqOp folds one partition's candidates into a partition-local map
      // (each partition contributes ≤ k per qid, so maps stay nq·k-bounded);
      // combOp merges maps pairwise up a depth-2 tree before the driver
      val merged = candidates.treeAggregate(
        mutable.LongMap.empty[Array[(Long, Double)]])(
        seqOp = { (m, c) =>
          m(c._1) = mergeTwo(m.getOrElse(c._1, Array.empty),
            Array((c._2, c._3)), k)
          m
        },
        combOp = { (m1, m2) =>
          m2.foreach { case (qid, cand) =>
            m1(qid) = mergeTwo(m1.getOrElse(qid, Array.empty), cand, k)
          }
          m1
        },
        depth = 2)
      finish(merged, k)
    }
  }
}
