package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import scala.reflect.ClassTag

/** The one serving batch every executor-resident family runs: a
  * per-partition local top-k over pinned shards, then a global merge (the
  * distributed top-k shape of REPOSE, ICDE 2021). A family supplies only
  * its per-shard kernel; this object owns the rest:
  *
  *  - [[validate]]: one driver-side check per batch (`k` ≥ 1, every query
  *    of the index dimension — a wrong-dimension query is rejected, never
  *    truncated);
  *  - [[probe]]: everything the batch ships travels in ONE broadcast,
  *    destroyed in a `finally` (a failing job does not leak it); an empty
  *    batch returns empty without launching a job;
  *  - per-shard selection through one bounded [[TopKBuffer]];
  *  - the [[ProbeMerge]] fan-in;
  *  - [[dist]], the one exact L2 / inner-product kernel. */
private[index] object ResidentServe {

  /** Batch check on the driver, before any preparation or broadcast.
    * `dim` < 0 means the index holds no rows, so any query is answerable
    * (with nothing). */
  def validate(k: Int, dim: Int, lens: Iterator[Int]): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (dim >= 0) lens.foreach { l =>
      require(l == dim,
        s"query dimension $l does not match the index dimension $dim")
    }
  }

  /** Materialize freshly persisted shards — the action that pins them
    * before the first probe — and return their common vector dimension
    * (-1 for an index with no rows). `lens` lists a shard's row
    * dimensions; rows of differing dimension are refused at load. */
  def materialize[S](rdd: RDD[S])(lens: S => Iterator[Int]): Int = {
    val (lo, hi) = rdd.aggregate((Int.MaxValue, -1))(
      (acc, s) => lens(s).foldLeft(acc) { case ((a, b), l) =>
        (math.min(a, l), math.max(b, l)) },
      { case ((a1, b1), (a2, b2)) => (math.min(a1, a2), math.max(b1, b2)) })
    require(hi < 0 || lo == hi, s"resident rows mix dimensions $lo and $hi")
    hi
  }

  /** Ship `batch` as the batch's single broadcast for `f`; destroyed in a
    * `finally`, so a serving loop never accumulates per-batch broadcasts,
    * not even from probes that throw. */
  def withBroadcast[B: ClassTag, T](rdd: RDD[_], batch: B)(
      f: Broadcast[B] => T): T = {
    val bc = rdd.sparkContext.broadcast(batch)
    try f(bc) finally bc.destroy()
  }

  /** One resident batch of `nq` queries: broadcast `batch`, run `kernel`
    * on every shard (it emits (qid, id, dist) candidates, at most k per
    * (query, shard)), and merge them to ranked (qid, id, dist, rank) rows
    * sorted by (qid, rank) — (dist asc, id asc), ranks 1..k. `estRows`
    * bounds the candidate fan-in for the merge-regime gate; by default
    * nq·k per shard. */
  def probe[S, B: ClassTag](rdd: RDD[S], batch: B, nq: Int, k: Int,
                            treeMergeAt: Int = 64, estRows: Long = -1L)(
      kernel: (S, B) => Iterator[(Long, Long, Double)]): Array[(Long, Long, Double, Long)] =
    if (nq == 0) Array.empty
    else withBroadcast(rdd, batch) { bc =>
      val local = rdd.flatMap(s => kernel(s, bc.value))
      ProbeMerge.topK(local, k, treeMergeAt,
        if (estRows >= 0L) estRows else nq.toLong * k * local.getNumPartitions)
    }

  /** Exact distance, smaller is better: squared L2, or the negated inner
    * product under `ip`. Double accumulation in component order, the same
    * arithmetic as the codegen kernels, so served distances equal the
    * dataflow's bit for bit. `q` is a validated query: rows have its
    * length. */
  def dist(q: Array[Float], v: Array[Float], ip: Boolean): Double = {
    var acc = 0.0
    var i = 0
    if (ip) {
      while (i < q.length) { acc += q(i).toDouble * v(i).toDouble; i += 1 }
      -acc
    } else {
      while (i < q.length) {
        val d = q(i).toDouble - v(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
  }
}

/** Bounded (dist asc, id asc) top-`cap` selection by insertion — cap is
  * small (k, or a refine budget), where insertion beats a heap on constant
  * factors. With `carryVecs` each kept entry also carries its row's float
  * vector, for the refine kernels' exact re-rank ([[refine]]). */
private[index] final class TopKBuffer(cap: Int, carryVecs: Boolean = false) {
  val ids = new Array[Long](cap)
  val dists = new Array[Double](cap)
  val vecs: Array[Array[Float]] =
    if (carryVecs) new Array[Array[Float]](cap) else null
  var size = 0

  def offer(d: Double, id: Long, vec: Array[Float] = null): Unit =
    if (size < cap || d < dists(size - 1) ||
        (d == dists(size - 1) && id < ids(size - 1))) {
      var pos = math.min(size, cap - 1)
      while (pos > 0 && (dists(pos - 1) > d ||
             (dists(pos - 1) == d && ids(pos - 1) > id))) {
        dists(pos) = dists(pos - 1); ids(pos) = ids(pos - 1)
        if (carryVecs) vecs(pos) = vecs(pos - 1)
        pos -= 1
      }
      dists(pos) = d; ids(pos) = id
      if (carryVecs) vecs(pos) = vec
      if (size < cap) size += 1
    }

  def contains(id: Long): Boolean = {
    var i = 0
    while (i < size && ids(i) != id) i += 1
    i < size
  }

  /** Exact re-rank of the kept rows: each carried vector rescored by
    * `exact`, in kept order, into a fresh top-`k` buffer. A row lives in
    * exactly one shard, so the global top-k is a subset of the union of
    * per-shard top-k's: refine-style probes emit k rows per (query,
    * shard), not their whole refine budget (emitting the budget made the
    * merge, not the scan, the serving bottleneck: unrouted ann_adc_served
    * ran at the same 274 q/s as the 75%-pruned IVF rows at sf1). */
  def refine(k: Int)(exact: Array[Float] => Double): TopKBuffer = {
    val out = new TopKBuffer(k)
    var i = 0
    while (i < size) { out.offer(exact(vecs(i)), ids(i)); i += 1 }
    out
  }

  /** The kept entries as (qid, id, dist) candidates, best first. */
  def rows(qid: Long): Iterator[(Long, Long, Double)] =
    Iterator.range(0, size).map(i => (qid, ids(i), dists(i)))
}
