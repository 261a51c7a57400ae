package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.reflect.ClassTag

/** The one serving batch every executor-resident family runs: a
  * per-partition local top-k over pinned shards, then a global merge (the
  * distributed top-k shape of REPOSE, ICDE 2021). A family supplies only
  * its per-shard kernel; this object owns the rest:
  *
  *  - [[validate]]: one driver-side check per batch (`k` ≥ 1, every query
  *    of the index dimension and finite — a wrong-dimension query is
  *    rejected, never truncated, and a NaN or infinite component is
  *    rejected before it can poison every distance it touches);
  *  - [[probe]]: everything the batch ships travels in ONE broadcast,
  *    destroyed in a `finally` (a failing job does not leak it); an empty
  *    batch returns empty without launching a job;
  *  - per-shard selection through one bounded [[TopKBuffer]];
  *  - the [[ProbeMerge]] fan-in;
  *  - [[dist]], the one exact L2 / inner-product kernel.
  *
  * In the collect regime a batch is ONE `SparkContext.runJob` run directly
  * on the pinned RDD ([[ShardJob]]), on the partitions that have work, with
  * each partition's candidates fed into the driver merge as its task
  * finishes — not an `rdd.flatMap(kernel)` followed by `collect()`. On a
  * 4-vCPU host the job's fixed cost, not the kernel, sets a small batch's
  * wall, and most of that fixed cost was Spark 4.1's `ClosureCleaner`:
  * it does not cache classes, so every closure it cleans re-reads the
  * class file that defines the closure from its jar and parses it with ASM.
  * `collect()` cleans two closures defined in `RDD` (184 KB of bytecode)
  * and `SparkContext` (204 KB) — 2.9 ms + 3.2 ms per batch measured in a
  * warm JVM — and the per-batch `flatMap` a third, on an RDD thrown away
  * after one job. `runJob` cleans one closure, defined in [[ShardJob]],
  * whose class file is a few KB. */
private[graft] object ResidentServe {

  /** Batch check on the driver, before any preparation or broadcast:
    * `k` ≥ 1 and every query vector finite and (`dim` ≥ 0) of the index
    * dimension. `dim` < 0 means the index holds no rows, so any finite
    * query is answerable (with nothing). */
  def validate(k: Int, dim: Int, qvs: Iterator[Array[Float]]): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    qvs.foreach { v =>
      var i = 0
      while (i < v.length) {
        require(java.lang.Float.isFinite(v(i)),
          s"query component $i is ${v(i)}: query values must be finite")
        i += 1
      }
      require(dim < 0 || v.length == dim,
        s"query dimension ${v.length} does not match the index dimension $dim")
    }
  }

  /** Materialize freshly persisted shards — the action that pins them
    * before the first probe — and return their common vector dimension
    * (-1 for an index with no rows). `lens` lists a shard's row
    * dimensions; rows of differing dimension are refused at load, and a
    * refused load unpersists the shards it filled. */
  def materialize[S](rdd: RDD[S])(lens: S => Iterator[Int]): Int =
    materializeKeyed(rdd)(_ => ())(lens)._1

  /** [[materialize]], also recording where each shard key lives: key →
    * the indices of the partitions holding it, so a batch can launch
    * tasks only on the shards it routes to. */
  def materializeKeyed[S, K](rdd: RDD[S])(key: S => K)(
      lens: S => Iterator[Int]): (Int, Map[K, Array[Int]]) = {
    val perPart = rdd.mapPartitionsWithIndex { (p, it) =>
      var (lo, hi) = (Int.MaxValue, -1)
      val keys = scala.collection.mutable.LinkedHashSet.empty[K]
      it.foreach { s =>
        keys += key(s)
        lens(s).foreach { l => lo = math.min(lo, l); hi = math.max(hi, l) }
      }
      Iterator.single((p, keys.toList, lo, hi))
    }.collect()
    val lo = perPart.iterator.map(_._3).foldLeft(Int.MaxValue)(math.min)
    val hi = perPart.iterator.map(_._4).foldLeft(-1)(math.max)
    if (hi >= 0 && lo != hi) rdd.unpersist()
    require(hi < 0 || lo == hi, s"resident rows mix dimensions $lo and $hi")
    val where = perPart.toSeq
      .flatMap { case (p, keys, _, _) => keys.map(k => (k, p)) }
      .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).sorted.toArray }
    (hi, where)
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
    * on the shards (it emits (qid, id, dist) candidates, at most k per
    * (query, shard)), and merge them to ranked (qid, id, dist, rank) rows
    * sorted by (qid, rank) — (dist asc, id asc), ranks 1..k. `estRows`
    * bounds the candidate fan-in for the merge-regime gate; by default
    * nq·k per shard. `parts`, when given, lists the only partitions with
    * work: the kernel must emit nothing on the others, and the collect
    * regime launches no task there. */
  def probe[S, B: ClassTag](rdd: RDD[S], batch: B, nq: Int, k: Int,
                            treeMergeAt: Int = 64, estRows: Long = -1L,
                            parts: Option[Seq[Int]] = None)(
      kernel: (S, B) => Iterator[(Long, Long, Double)]): Array[(Long, Long, Double, Long)] =
    serve(rdd, batch, nq, k, treeMergeAt, estRows, parts)(kernel)(
      Ordering[Double], ProbeMerge.treeTopK(_, k))

  /** [[probe]] over any candidate key `D`: `ord` ranks the candidates of
    * one query (ties to the lower id) in the collect regime, and `tree`
    * merges them past it. */
  def serve[S, B: ClassTag, D](rdd: RDD[S], batch: B, nq: Int, k: Int,
                               treeMergeAt: Int, estRows: Long,
                               parts: Option[Seq[Int]])(
      kernel: (S, B) => Iterator[(Long, Long, D)])(
      ord: Ordering[D],
      tree: RDD[(Long, Long, D)] => Array[(Long, Long, D, Long)]): Array[(Long, Long, D, Long)] =
    if (nq == 0) Array.empty
    else withBroadcast(rdd, batch) { bc =>
      val nParts = rdd.getNumPartitions
      ProbeMerge.merge(rdd, parts.getOrElse(0 until nParts), k, treeMergeAt,
        if (estRows >= 0L) estRows else nq.toLong * k * nParts)(
        ShardJob.kernel(bc, kernel))(ord, tree)
    }

  /** Served rows as a driver-side (qid, id, dist, rank) frame: eager, so
    * the shards it came from can unload before the frame is read. */
  def frame(spark: SparkSession, rows: Array[(Long, Long, Double, Long)]): DataFrame =
    spark.createDataFrame(rows.toSeq).toDF("qid", "id", "dist", "rank")

  /** A (qid, qvec) query frame as the driver-side batch a probe takes. */
  def queries(df: DataFrame): Array[(Long, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("qid").cast("long"), col("qvec")).as[(Long, Array[Float])].collect()
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

/** The task function of a resident batch's one job, built here and not at
  * the call site: Spark's `ClosureCleaner` parses the class file that
  * defines each closure it cleans, on every job, so the closure `runJob`
  * cleans is defined in this small object (see [[ResidentServe]]). */
private[index] object ShardJob {

  /** Run `perShard` as one job on partitions `parts` of `rdd` (none: no
    * job); `handle` receives each partition's output on the driver as
    * its task finishes, one call at a time. */
  def run[S, C: ClassTag](rdd: RDD[S], parts: Seq[Int])(
      perShard: Iterator[S] => Iterator[C])(handle: Array[C] => Unit): Unit =
    if (parts.nonEmpty)
      rdd.sparkContext.runJob(rdd, task(perShard), parts,
        (_: Int, out: Array[C]) => handle(out))

  private def task[S, C: ClassTag](perShard: Iterator[S] => Iterator[C]):
      (TaskContext, Iterator[S]) => Array[C] =
    (_, shards) => perShard(shards).toArray

  /** A resident kernel over a partition's shards, reading the batch from
    * its broadcast once per task. */
  def kernel[S, B, C](bc: Broadcast[B], f: (S, B) => Iterator[C]):
      Iterator[S] => Iterator[C] = { shards =>
    val b = bc.value
    shards.flatMap(f(_, b))
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
