package graft.index

import graft.operators.{Metric, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over (id, vec) DataFrames — the trainer
  * behind [[IvfIndex]]. Initialization is a deterministic UNIFORM hash
  * draw ([[KMeans.seedHashUniform]]: the C rows with the smallest
  * xxhash64(id)) — faiss's own k-means init is a random sample of the
  * training points, and this is that init made byte-reproducible (no RNG
  * state; stable across runs and partitionings, which keeps driver
  * compares stable). The r9 default — the C LOWEST-id rows — was a scale
  * bug on id-correlated layouts: on [[ClusterPermute]]'s cluster-major
  * output all C seeds land in one region. Hash-uniform seeds land ∝ the
  * data distribution wherever the ids came from.
  *
  * Why not k-means++? Measured (seeding study, 200k-row σ=0.20 clustered
  * control, C = 1,789, iters = 3, queries from the MIDDLE of the id range
  * so no seeding sees its own eval queries): lowest-id, hash-uniform, and
  * the dyadic k-means‖-style ++ draw ([[KMeans.seedPlusPlus]], kept as an
  * opt-in) are statistically indistinguishable — routing-limited recall
  * within ±0.01 at every scanned-mass point (3% mass: 0.893 / 0.887 /
  * 0.882), inertia within 0.1%. The same study on LOW-id queries had
  * read lowest-id 0.03 "ahead" at every point — pure leakage (the C
  * lowest-id seeds contain the lowest-id queries), which also means
  * earlier rounds' IVF recall sweeps were mildly flattered. ++'s D²
  * spread only pays off on adversarially clumped data a uniform draw can
  * miss entirely (IndexSpec pins that property); its full k-means‖
  * reduction would cost an O(C²·d) driver-side weighted Lloyd.
  * `seedLowId = true` remains for the one caller that needs
  * SQL-expressible seeds (the `ann_ivf_hist` oracle gate pins its DuckDB
  * twin to `vec_id < C`).
  *
  * Every step is relational: assignment is a broadcast join of C centroids
  * against the base (map-side, no shuffle of the big table), and the
  * re-centering is a partial-aggregating groupBy on (cluster, dimension).
  * At 100 TB you train on a sample and only the final assignment pass
  * touches the full table — `fit(sample)` then `assign(full)`.
  *
  * Reference analog: the IVF16384 coarse quantizer inside the faiss
  * baseline (/root/reference/filter/faiss/config.yaml:50-53) and the
  * cluster-and-permute data prep (/root/reference/streaming/
  * clustered_data_gen.py:10-42).
  */
object KMeans {

  /** Assign each row to its nearest centroid: (id, cid). The centroid set
    * is tiny by construction (C ≪ n; even IVF16384×192f is ~12 MB), so it
    * ships to executors inside a closure and assignment is a MAP-SIDE argmin
    * — no join, no shuffle, one pass over the base. Ties break to the
    * lowest cid (deterministic). */
  def assign(base: DataFrame, centroids: DataFrame): DataFrame =
    assignCarry(base, centroids).select("id", "cid")

  /** [[assign]] that carries the vector through: (id, vec, cid). Lloyd's
    * recenter consumes this directly, so no join of the base back to itself
    * is ever needed — assignment stays a map-side argmin over the closure's
    * centroid array and the only shuffle per iteration is the partial
    * aggregation keyed on cid. */
  def assignCarry(base: DataFrame, centroids: DataFrame): DataFrame = {
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col("cid").cast("long"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val argmin = udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      var bestCid = -1L
      var bestD = Double.MaxValue
      cents.foreach { case (cid, c) =>
        var d = 0.0
        var i = 0
        val n = math.min(v.length, c.length)
        while (i < n) { val t = v(i).toDouble - c(i).toDouble; d += t * t; i += 1 }
        if (d < bestD) { bestD = d; bestCid = cid }
      }
      bestCid
    }
    base.select(col("id"), col("vec"), argmin(col("vec")).as("cid"))
  }

  /** [[assignCarry]] with the per-row argmin served by an HNSW graph over
    * the centroids instead of the linear O(C·d) rank — faiss's IVF_HNSW
    * quantizer shape, the assignment form that stays affordable once
    * autoC(n) ≈ 4√n puts C in the tens of thousands (the linear argmin is
    * O(n·C·d) over the corpus: at 10M rows × C=12,649 × d=64 that is
    * ~10^13 flops for ONE pass; the beam is O(n·efRoute·deg·d) — ~25×
    * less at efRoute=48, and the gap widens as √n).
    *
    * The closure ships the raw centroid array; [[CoarseRouter]] rebuilds
    * its centroid graph lazily ONCE per executor JVM (deterministic —
    * level draws key on cid), so assignment stays a map-side projection
    * with no shuffle. Assignment becomes approximate (a row can land in a
    * near-tied neighbor cluster); for an inverted file that moves mass
    * between adjacent lists without breaking the contract — probes rank
    * the TRUE distances inside whatever lists they scan, and end-to-end
    * recall is what the bench grades. efRoute ≥ C degenerates to the
    * exact linear rank. */
  def assignCarryGraph(base: DataFrame, centroids: DataFrame,
                       efRoute: Int = 48): DataFrame = {
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col("cid").cast("long"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // CoarseRouter keys on Int cids; centroid cids are row ids (Long), so
    // route on the sorted index and translate back
    val cidOf: Array[Long] = cents.map(_._1)
    val router = new CoarseRouter(
      cents.zipWithIndex.map { case ((_, cv), i) => (i, cv) }, Map.empty)
    val ef = efRoute
    val nearest = udf { (vec: Seq[Float]) =>
      cidOf(router.byNprobeGraph(vec.toArray, nprobe = 1, efRoute = ef).head)
    }
    base.select(col("id"), col("vec"), nearest(col("vec")).as("cid"))
  }

  /** Deterministic training sample for [[fit]] at scale: ~`perCentroid`
    * rows per centroid (the faiss guideline trains on 39–256·C points),
    * selected by id-hash so the sample is stable across runs and
    * partitionings — never an `orderBy`/`limit` over the corpus. Returns
    * the base unchanged when it is already within 2× of the target. */
  def trainSample(base: DataFrame, c: Int, n: Long,
                  perCentroid: Int = 64): DataFrame = {
    val target = math.max(perCentroid.toLong * c, 100000L)
    if (n <= 2L * target) base
    else base.where(pmod(xxhash64(col("id")), lit(n / target)) === 0)
  }

  /** Deterministic uniform seeding: the C rows with the smallest
    * (xxhash64(id), id) — faiss's random-sample k-means init, made
    * byte-reproducible. One TakeOrdered pass; seeds land ∝ the data
    * distribution regardless of id layout (the lowest-id init's
    * id-correlation bias, removed). Returns (cid = row id, cvec). */
  def seedHashUniform(base: DataFrame, c: Int): DataFrame =
    base
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(c)
      .select(col("id").as("cid"), col("vec").as("cvec"))

  /** Deterministic k-means++ seeding (the k-means‖ dyadic form): C seed
    * rows as (cid = row id, cvec), spread ∝ D²(x, S). OPT-IN, not the
    * default: measured on the clustered 200k control it is equal to the
    * uniform hash draw within noise (see the object scaladoc) while
    * costing O(log C) extra passes. Kept because on ADVERSARIALLY clumped
    * data (all mass in few far-apart blobs plus outliers) a uniform draw
    * can miss a blob entirely while D²-weighting cannot — IndexSpec pins
    * that property.
    * The textbook ++ is sequential (C dependent passes); this is the
    * DOUBLING schedule: the seed set doubles each round (1 → 2 → … → C),
    * each round drawing |S| new seeds D²-weighted in ONE distributed pass,
    * so seeding costs O(log C) jobs and Σ|new|·n·d ≈ ONE assignment pass
    * total — the same flop budget Lloyd pays per iteration.
    *
    * Determinism without RNG state: the weighted draw is an exponential
    * race — key(x) = −ln(u(x)) / D²(x), u(x) = a (0,1] hash of (id, round)
    * — and the m smallest keys win (ties → lowest id). Pure function of
    * (ids, vectors, round), so the seed set is identical across runs,
    * partitionings, and recomputations. Rows at D² = 0 (exact duplicates
    * of a seed) key to +∞ and are drawn only when nothing else remains. */
  def seedPlusPlus(base: DataFrame, c: Int): DataFrame = {
    val spark = base.sparkSession
    import org.apache.spark.storage.StorageLevel
    val vecs = base.select(col("id").cast("long"), col("vec"))
    if (c <= 0) return vecs.limit(0)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    // state: (id, vec, d2 = squared distance to nearest seed so far)
    val first = vecs
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(1)
      .select(col("id"), col("vec")).collect()
    if (first.isEmpty) return vecs
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val seeds = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](
      (first.head.getLong(0), first.head.getSeq[Float](1).toArray))
    def d2To(batch: Array[(Long, Array[Float])]) = udf {
      (vec: Seq[Float], prev: Double) =>
        val v = vec.toArray
        var best = prev
        batch.foreach { case (_, s) =>
          var d = 0.0
          var i = 0
          val n = math.min(v.length, s.length)
          while (i < n) { val t = v(i).toDouble - s(i).toDouble; d += t * t; i += 1 }
          if (d < best) best = d
        }
        best
    }
    var state = vecs
      .withColumn("d2", d2To(seeds.toArray)(col("vec"), lit(Double.MaxValue)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    state.count()
    var round = 0
    var exhausted = false
    while (seeds.length < c && !exhausted) {
      val m = math.min(seeds.length, c - seeds.length)
      round += 1
      // exponential race: u ∈ (0,1] from a hash of (id, round); smaller
      // −ln(u)/d2 ⇔ larger u^(1/d2) ⇔ D²-weighted draw without replacement.
      // Rows at d2 = 0 (seeds and their exact duplicates) are excluded —
      // when nothing else remains the corpus has < c distinct points and
      // seeding honestly stops short (Lloyd handles < c groups).
      val u = (pmod(xxhash64(col("id"), lit(round)), lit(1000000007L))
        .cast("double") + lit(1.0)) / lit(1000000008.0)
      val drawn = state
        .where(col("d2") > 0.0)
        .withColumn("k", -log(u) / col("d2"))
        .orderBy(col("k"), col("id")).limit(m)
        .select(col("id"), col("vec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      if (drawn.isEmpty) exhausted = true
      else {
        seeds ++= drawn
        val next = state
          .withColumn("d2n", d2To(drawn)(col("vec"), col("d2")))
          .select(col("id"), col("vec"), col("d2n").as("d2"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        state.unpersist()
        state = next
      }
    }
    state.unpersist()
    import spark.implicits._
    seeds.toSeq.toDF("cid", "cvec")
  }

  /** Train C centroids with `iters` Lloyd iterations: (cid, cvec). */
  def fit(base: DataFrame, c: Int, iters: Int): DataFrame =
    fit(base, c, iters, graphAssign = false)

  /** [[fit]] with the per-iteration assignment optionally served by the
    * centroid graph ([[assignCarryGraph]]) — the O(C·d) → O(efRoute·log C)
    * swap each Lloyd pass pays for at large C. The centroid graph is
    * rebuilt per iteration (C inserts — seconds even at C=20k, against a
    * corpus pass it saves minutes of). */
  def fit(base: DataFrame, c: Int, iters: Int,
          graphAssign: Boolean = false, seedLowId: Boolean = false): DataFrame = {
    val spark = base.sparkSession
    // C > 128 groups would tip the vecMean ObjectHashAggregate into its
    // sort-based fallback — a full sort of the corpus per Lloyd pass
    graft.operators.TopK.ensureHashAggKeyRoom(spark)
    var centroids = (
      if (seedLowId) base.orderBy("id").limit(c)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      else seedHashUniform(base, c)).cache()
    centroids.count()
    for (_ <- 0 until iters) {
      // recenter with ONE whole-vector mean aggregate (O(d) buffer per
      // group, map-side combining — dimension-scalable where d avg columns
      // are not); assignCarry keeps the vector in-row so the base is never
      // joined back to itself
      val assigned =
        if (graphAssign) assignCarryGraph(base, centroids)
        else assignCarry(base, centroids)
      val next = assigned
        .groupBy("cid")
        .agg(graft.functions.VectorAggs.vecMean(col("vec")).as("cvec"))
        .cache()
      next.count()
      centroids.unpersist()
      centroids = next
    }
    // Dense renumber 0..C-1 by cid rank: seed cids are ROW IDS, and
    // several downstream layouts key or partition on `cid` cast to int
    // (resident cluster maps, parquet partition values, the centroid
    // graph router) — a row-id cid overflows that cast past 2³¹ rows.
    // Rank order preserves the seedLowId gate's identity mapping (the
    // C lowest ids ARE 0..C-1 on contiguous-id tables, which is what its
    // SQL oracle pins). C rows through the driver — the same size as the
    // centroid broadcast every assignment pass already ships.
    val renumbered = {
      val rows = centroids
        .select(col("cid").cast("long"), col("cvec")).collect()
        .sortBy(_.getLong(0))
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }
        .toSeq
      import spark.implicits._
      rows.toDF("cid", "cvec")
    }
    centroids.unpersist()
    renumbered
  }
}

object ClusterHistogram {
  /** A5 cluster histogram: per-cluster row counts and the exclusive prefix
    * offsets a contiguous (cluster-major) layout would use — the
    * counts/offsets the reference's clustered data generator computes to
    * lay clusters out contiguously (/root/reference/streaming/
    * clustered_data_gen.py:10-42) and the IVF list-size stats faiss keeps
    * per inverted list. One partial-aggregating shuffle keyed on cid, then
    * exclusive prefix offsets via the same distributed two-pass prefix sum
    * as [[graft.operators.Pipeline.rankGlobal]]: range-partition the C-row
    * histogram on cid, one tiny job sums cnt per partition, and a second
    * pass adds each partition's broadcast offset to an in-partition running
    * total. O(C log C) work and C rows ever in flight — the previous
    * triangular broadcast self-join was O(C²) pairs, fine at the benched
    * C ≤ 20k but 1.6·10¹¹ pairs at the C = 400k a 10⁹-row corpus wants.
    * Input: any (id, cid) assignment. Returns (cid, cnt, offset). */
  def histogram(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    val counts = assigned.groupBy("cid").agg(count(lit(1)).as("cnt"))
    // The two-pass prefix sum runs TWO jobs over the same partitioning (the
    // per-partition-sum collect, then the offset pass), so the partitioning
    // must be a pure function of the data: `repartitionByRange` is NOT —
    // RangePartitioner reservoir-samples the (shuffle-order-nondeterministic)
    // aggregation output, so a recomputation between the two jobs could
    // land rows in different partitions and apply the broadcast offset
    // bases to the wrong partitions. Partition by explicit VALUE ranges
    // instead (uniform cid-range split): deterministic under any
    // recomputation, and one sampling pass cheaper. The C-row histogram is
    // also persisted so the aggregation over the full corpus runs once;
    // the RDD-level persist is dropped by the ContextCleaner when the
    // returned frame dies, and an eviction-forced recompute is safe
    // because the partitioner is value-deterministic.
    val pairs = counts
      .select(col("cid").cast("long"), col("cnt").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val bounds = pairs.keys
      .aggregate((Long.MaxValue, Long.MinValue))(
        (b, k) => (math.min(b._1, k), math.max(b._2, k)),
        (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    var toUnpersist: org.apache.spark.rdd.RDD[(Long, Long)] = null
    val out: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      if (bounds._1 > bounds._2) spark.sparkContext.emptyRDD
      else {
        val (lo, hi) = bounds
        val p = math.max(1, spark.sessionState.conf.numShufflePartitions)
        val width = math.max(1L, (hi - lo) / p + 1)
        val parted = pairs
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = p
            override def getPartition(key: Any): Int =
              ((key.asInstanceOf[Long] - lo) / width).toInt
          })
          .mapPartitions(it => it.toArray.sortBy(_._1).iterator,
            preservesPartitioning = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        toUnpersist = parted
        val partSums = parted
          .mapPartitionsWithIndex { (i, it) =>
            var s = 0L; it.foreach(s += _._2); Iterator((i, s))
          }
          .collect().sortBy(_._1).map(_._2)
        val offsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
        parted.mapPartitionsWithIndex { (i, it) =>
          var running = offsets.value(i)
          it.map { case (cid, cnt) =>
            val r = org.apache.spark.sql.Row(cid, cnt, running)
            running += cnt
            r
          }
        }
      }
    val df = spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType))))
    // materialize the C-row histogram while the partitioned intermediate is
    // live, then drop the intermediate explicitly (same leak shape as
    // Pipeline.rankGlobal: the ContextCleaner only reclaims it when the
    // caller's frame dies, which a long-lived driver may never let happen).
    // The output pins at the RDD level — a DataFrame.persist here registers
    // in the SQL CacheManager and is held until an explicit unpersist, so a
    // caller that discards the frame would leak the cache entry; the RDD
    // persist is ContextCleaner-reclaimed, and an eviction-forced recompute
    // is safe because the partitioner is value-deterministic.
    if (toUnpersist != null) {
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      toUnpersist.unpersist(blocking = false)
    }
    df
  }
}

object ClusterPermute {
  /** Cluster-and-permute data prep (A4, /root/reference/streaming/
    * clustered_data_gen.py:10-42): assign rows to clusters and emit the
    * permutation that lays clusters out contiguously — the reference uses
    * this to build "data drift" runbooks; at scale it's the
    * repartitionByRange + within-partition sort that makes cluster-local
    * scans sequential. Returns (id, cid, pos) with pos the contiguous
    * position under (cid, id) order. */
  def permutation(base: DataFrame, c: Int, iters: Int): DataFrame = {
    val spark = base.sparkSession
    val assigned = KMeans.assign(base, KMeans.fit(base, c, iters))
    // global positions WITHOUT a single-partition sort: range-partition on
    // (cid, id), sort within partitions, then zipWithIndex (which offsets
    // each partition by the preceding partitions' sizes — distributed)
    val sorted = assigned
      .repartitionByRange(col("cid"), col("id"))
      .sortWithinPartitions("cid", "id")
    val rdd = sorted.select("id", "cid").rdd.zipWithIndex.map {
      case (r, pos) => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), pos)
    }
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType))))
  }
}

/** IVF (inverted-file) vector index: rows bucketed by nearest centroid;
  * probes scan only the `nprobe` clusters nearest to the query vector —
  * partition pruning for vector search. With nprobe = C the probe is
  * exhaustive and exactly equals brute force (the oracle-checked mode);
  * smaller nprobe trades recall for scan volume, the same knob as the
  * reference's `nprobe` (/root/reference/filter/faiss/faiss.py:617-645).
  *
  * At scale the build writes `base.withColumn("cid").write.partitionBy("cid")`
  * so cluster pruning becomes parquet partition pruning — candidate scans
  * never read the other clusters' files.
  */
final case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {

  /** Top-k probe: route each query to its nprobe nearest clusters, scan
    * only those clusters' rows. Returns (qid, id, dist, rank). */
  def probe(queries: DataFrame, base: DataFrame, k: Int, nprobe: Int,
            metric: String = Metric.L2): DataFrame = {
    val routes = TopK.aggTopK(
      queries.crossJoin(broadcast(centroids))
        .withColumn("dist", Metric.distColumn(metric, col("qvec"), col("cvec"))),
      "qid", "cid", "dist", nprobe)
      .select(col("qid"), col("cid"))
    val cand = routes.join(assigned, "cid").select("qid", "id")
    val scored = cand
      .join(base.select("id", "vec"), "id")
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .withColumn("dist", Metric.distColumn(metric, col("qvec"), col("vec")))
    TopK.aggTopK(scored, "qid", "id", "dist", k)
  }
}

object IvfIndex {

  /** Corpus-relative coarse-quantizer sizing: C = max(8, ⌈4·√n⌉), the
    * published faiss guideline (C between 4·√n and 16·√n training points
    * per the faiss index-factory docs); the reference's own operating
    * point sits inside it — IVF16384 on 10M rows ≈ 5.2·√n
    * (/root/reference/filter/faiss/config.yaml:50, README.md:43). A FIXED
    * C is a scale bug in both directions: too coarse and routing prunes a
    * constant fraction (nprobe=6 of C=8 scans 75% of ANY corpus — the r7
    * serving rows' 13–15× collapse at 10× rows); too fine and k-means
    * training and routing dominate. √n growth keeps points-per-cluster
    * growing as √n too, so both the router (O(C·d)) and the scan
    * (O(mass·n·d)) stay sublinear in n at a fixed mass fraction. */
  def autoC(n: Long): Int =
    math.max(8, math.ceil(4.0 * math.sqrt(n.toDouble)).toInt)

  /** Build: train on the base (or a sample of it) and assign every row. */
  def build(base: DataFrame, c: Int, iters: Int): IvfIndex = {
    val centroids = KMeans.fit(base, c, iters)
    IvfIndex(centroids, KMeans.assign(base, centroids).cache())
  }

  /** C at which [[buildAtScale]]'s TRAINING iterations switch from the
    * exact linear argmin to the centroid-graph beam. Training on the
    * ~64·C-row sample costs 3·64·C²·d flops exactly — ~2·10¹² at
    * C = 12,650 (a minute of a 32-core box), so the beam buys nothing
    * until C is in the tens of thousands, and it is NOT free: beam-served
    * training at efRoute = 48 mis-groups enough points per Lloyd pass to
    * degrade the trained centroids themselves — measured (r9, 2M uniform
    * rows, C = 5,657): routing-limited recall at 5% scanned mass reads
    * 0.9942 with exact training and 0.75 with beam training, the SAME
    * final exact assignment both ways. 32,768 keeps every corpus through
    * ~6·10⁷ rows (autoC) on exact training; past it, raise efRoute with C
    * (the miss rate that merely nudges provisional centroids at small C
    * compounds at large C). */
  val graphAssignMinC = 32768

  /** [[build]] for corpora where n·C·d passes are the wall: Lloyd trains
    * on a deterministic ~64·C-row sample ([[KMeans.trainSample]] — the
    * faiss training-points guideline), with per-iteration assignment
    * served by the centroid HNSW past C ≥ [[graphAssignMinC]]; the ONE
    * full assignment pass stays the EXACT linear argmin by default.
    *
    * Assignment exactness is the invariant IVF routing depends on: a row
    * beam-assigned to a non-nearest centroid is invisible to query-side
    * routing until the routed set happens to include the wrong cluster.
    * Measured (r9, 2M uniform rows, C = 5,657): graph-assigning the full
    * pass at efRoute = 48 dropped routing-limited recall at 5% scanned
    * mass from 0.9942 to 0.7474 — a 3× matched-recall mass penalty on
    * every downstream IVF family — while the exact pass costs one
    * broadcast-argmin map over the corpus (n·C·d ≈ 10^13 flops at 10M
    * rows ≈ minutes of a build that is paid once). faiss's default coarse
    * quantizer is exact (IndexFlat) for the same reason. `graphAssign =
    * true` opts the full pass into the beam (at 4× the training beam
    * width) for the regime where even one exact pass is unaffordable
    * (C ≳ 10^5, i.e. n ≳ 10^9 at autoC) — the measured recall cost above
    * is the price sheet for that trade. */
  def buildAtScale(base: DataFrame, c: Int, iters: Int, n: Long,
                   graphAssign: Boolean = false): IvfIndex = {
    val gaTrain = c >= graphAssignMinC
    val centroids = KMeans.fit(KMeans.trainSample(base, c, n), c, iters,
      gaTrain)
    val assigned =
      if (graphAssign && gaTrain)
        KMeans.assignCarryGraph(base, centroids, efRoute = 192)
          .select("id", "cid")
      else KMeans.assign(base, centroids)
    IvfIndex(centroids, assigned.cache())
  }

  /** Persist the index as parquet artifacts (S7/X4 analog of the
    * reference's saveIndex, /root/reference/filter/hnsw/hnswalg.h:1224-1362):
    * centroids as one small table, assignments partitioned by cluster id so
    * a loaded index's probes prune at the file-listing level. */
  def save(index: IvfIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("cid").parquet(s"$path/assigned")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/assigned"))
}
