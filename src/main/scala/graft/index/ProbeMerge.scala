package graft.index

import org.apache.spark.rdd.RDD
import scala.collection.mutable

/** Per-query top-k merge for resident serving probes (graph, scan,
  * postings): every probe fans out to P resident partitions, each returning
  * at most k candidates per query, and the k·nq·P candidate rows must merge
  * to one ranked top-k per query.
  *
  * Two regimes:
  *  - small P: one job on the candidate partitions, each task's candidates
  *    merged on the driver ([[Collected]]) — one narrow stage, no exchange,
  *    k·nq·P rows are driver-sized (this is the serving fast path, same as
  *    the reference collecting per-thread heaps);
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

  private def finish[D](m: mutable.LongMap[Array[(Long, D)]],
                        k: Int): Array[(Long, Long, D, Long)] = {
    val out = Array.newBuilder[(Long, Long, D, Long)]
    m.toSeq.sortBy(_._1).foreach { case (qid, cand) =>
      var r = 0
      while (r < cand.length && r < k) {
        out += ((qid, cand(r)._1, cand(r)._2, (r + 1).toLong))
        r += 1
      }
    }
    out.result()
  }

  /** The collect regime's driver merge: per-shard candidate arrays are
    * [[add]]ed as their tasks finish, in any order; [[result]] ranks each
    * query's candidates by (`ord` on the key, id asc), drops repeated ids
    * and keeps the first k. */
  private final class Collected[D](k: Int)(ord: Ordering[D]) {
    private val byQuery = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, D)]]

    def add(cands: Array[(Long, Long, D)]): Unit = cands.foreach {
      case (qid, id, d) =>
        byQuery.getOrElseUpdate(qid, mutable.ArrayBuffer.empty) += ((id, d))
    }

    def result(): Array[(Long, Long, D, Long)] = {
      val rank = Ordering.Tuple2(ord, Ordering.Long)
      val m = mutable.LongMap.empty[Array[(Long, D)]]
      byQuery.foreach { case (qid, cand) =>
        val seen = mutable.HashSet.empty[Long]
        m(qid) = cand.sortBy(c => (c._2, c._1))(rank).iterator
          .filter(c => seen.add(c._1)).take(k).toArray
      }
      finish(m, k)
    }
  }

  /** [[topK]] for integer-score candidates ranked (score DESC, id asc) —
    * the sparse postings serving domain, kept in exact Long arithmetic
    * (scores are sums of tf products; a double round-trip could lose
    * precision past 2^53). */
  def topKByScore(candidates: RDD[(Long, Long, Long)], k: Int,
                  treeAt: Int = 64,
                  estRows: Long = -1L): Array[(Long, Long, Long, Long)] =
    merge(candidates, 0 until candidates.getNumPartitions, k, treeAt,
      estRows)(rows => rows)(Ordering.Long.reverse, treeTopKByScore(_, k))

  /** The merge of the candidates `perShard` makes of each partition of
    * `rdd`. Collect regime: ONE job on partitions `parts` (the others
    * must yield nothing), each task's candidates fed to [[Collected]] as
    * it finishes, ranked by (`ord`, id asc). Otherwise `tree` merges
    * them from every partition. */
  def merge[S, D](rdd: RDD[S], parts: Seq[Int], k: Int, treeAt: Int,
                  estRows: Long)(perShard: Iterator[S] => Iterator[(Long, Long, D)])(
      ord: Ordering[D],
      tree: RDD[(Long, Long, D)] => Array[(Long, Long, D, Long)]): Array[(Long, Long, D, Long)] =
    if (collectRegime(rdd.getNumPartitions, treeAt, estRows)) {
      val merged = new Collected[D](k)(ord)
      ShardJob.run(rdd, parts)(perShard)(merged.add)
      merged.result()
    } else tree(rdd.mapPartitions(perShard))

  /** The tree regime of [[topKByScore]], by order reversal: merge on
    * negated scores, emit the originals. */
  def treeTopKByScore(candidates: RDD[(Long, Long, Long)],
                      k: Int): Array[(Long, Long, Long, Long)] = {
    // Long.MinValue can't negate; scores here are non-negative sums, but
    // guard the domain explicitly rather than silently corrupting ranks
    val asDist = candidates.map { case (qid, id, s) =>
      require(s != Long.MinValue, "score domain")
      (qid, id, -s)
    }
    treeTopKLong(asDist, k).map { case (qid, id, negS, r) =>
      (qid, id, -negS, r)
    }
  }

  /** True when the one-narrow-job driver collect is safe: few enough
    * partitions AND (when the caller bounded it) few enough rows. estRows
    * < 0 = caller could not bound the fan-in; the partition gate alone
    * then applies, as before. */
  private def collectRegime(parts: Int, treeAt: Int, estRows: Long): Boolean =
    parts < treeAt && (estRows < 0L || estRows <= maxCollectRows)

  /** Exact-Long variant of [[treeTopK]]: (dist asc, id asc) over Long
    * distances. */
  private def treeTopKLong(candidates: RDD[(Long, Long, Long)],
                           k: Int): Array[(Long, Long, Long, Long)] = {
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
    finish(candidates.treeAggregate(
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
      depth = 2), k)
  }

  /** Merge `(qid, id, dist)` candidate rows to ranked per-query top-k.
    * Driver merge below `treeAt` resident partitions AND below the
    * `estRows` volume bound; two-level treeAggregate otherwise. */
  def topK(candidates: RDD[(Long, Long, Double)], k: Int,
           treeAt: Int = 64,
           estRows: Long = -1L): Array[(Long, Long, Double, Long)] =
    merge(candidates, 0 until candidates.getNumPartitions, k, treeAt,
      estRows)(rows => rows)(Ordering[Double], treeTopK(_, k))

  /** The tree regime of [[topK]]: seqOp folds one partition's candidates
    * into a partition-local map (each partition contributes ≤ k per qid,
    * so maps stay nq·k-bounded); combOp merges maps pairwise up a depth-2
    * tree before the driver. */
  def treeTopK(candidates: RDD[(Long, Long, Double)],
               k: Int): Array[(Long, Long, Double, Long)] =
    finish(candidates.treeAggregate(
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
      depth = 2), k)
}
