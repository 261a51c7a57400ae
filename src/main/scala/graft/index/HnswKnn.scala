package graft.index

import graft.operators.TopK
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One persisted row of a partition-local HNSW graph: the node's id, vector,
  * optional tag set, level, and adjacency per level, plus the owning
  * partition's entry point replicated per row (2 ints — cheaper than a
  * separate meta table and atomically consistent with the nodes). `seq` is
  * the insertion position: loading sorts on it so the rebuilt arrays are
  * byte-identical to the built ones. */
final case class HnswNodeRow(part: Int, seq: Int, id: Long, vec: Array[Float],
                             tags: Array[Int], level: Int,
                             links: Array[Array[Int]],
                             entryPoint: Int, maxLevel: Int,
                             metric: String)

/** One partition-local graph and the tag sets of its rows (only rows that
  * carry tags are in the map). Every graph family — id-hash
  * ([[HnswKnn]]), centroid-routed ([[HnswRouted]]) and the tag registry
  * ([[TagSubindexes]]) — is a set of these shards, and the companion
  * object holds each step they take: build, export, refill, pin. */
private[index] final case class HnswShard(graph: HnswIndex,
                                          tags: Map[Long, Array[Int]]) {

  /** The one shard search: top-k of the nodes that are not tombstones and
    * whose tags hold every query tag. Blocked nodes are walked through,
    * never admitted ([[HnswIndex.searchFiltered]]); with no tombstone and
    * no query tag every node is admitted, the plain search. */
  def search(qv: Array[Float], qtags: Array[Int], k: Int, ef: Int,
             dead: Set[Long] = Set.empty): Array[(Long, Double)] =
    graph.search(qv, k, ef, id => !dead.contains(id) && (qtags.isEmpty || {
      val t = tags.getOrElse(id, HnswShard.noTags)
      qtags.forall(t.contains)
    }))
}

private[index] object HnswShard {

  val noTags: Array[Int] = Array.emptyIntArray

  /** Insert rows, in the order given, into a fresh graph (SQ8-coded with
    * `quant`). */
  def insert(rows: Iterator[(Long, Array[Float], Array[Int])], m: Int,
             efConstruction: Int, metric: String,
             quant: Option[(Array[Double], Array[Double])] = None): HnswShard = {
    val g = new HnswIndex(m, efConstruction, metric, quant)
    val tags = Map.newBuilder[Long, Array[Int]]
    rows.foreach { case (id, v, t) =>
      g.add(id, v)
      if (t.nonEmpty) tags += id -> t
    }
    HnswShard(g, tags.result())
  }

  /** The id-hash build: `base` (id, vec, optional tags) hashes on id into
    * `n` partitions and each partition inserts its rows in ascending id
    * order, so the same base always yields the same graphs. Lazy: one
    * (partition index, shard) per partition. */
  def build(base: DataFrame, n: Int, m: Int, efConstruction: Int,
            metric: String,
            quant: Option[(Array[Double], Array[Double])] = None): RDD[(Int, HnswShard)] = {
    val spark = base.sparkSession
    import spark.implicits._
    val tags =
      if (base.columns.contains("tags")) col("tags") else array().cast("array<int>")
    base.select(col("id").cast("long"), col("vec"), tags.as("tags"))
      .repartition(n, col("id"))
      .sortWithinPartitions("id") // deterministic insertion order
      .as[(Long, Array[Float], Array[Int])].rdd
      .mapPartitionsWithIndex { (part, it) =>
        Iterator.single((part, insert(it, m, efConstruction, metric, quant)))
      }
  }

  /** The grouped builds' step ([[HnswRouted]] by cluster, the registry by
    * (key, part)): one group's rows, inserted in ascending id order, as the
    * node rows of graph `part`. */
  def buildGroup(part: Int, rows: Iterator[(Long, Array[Float])], m: Int,
                 efConstruction: Int, metric: String): Iterator[HnswNodeRow] =
    export(part, insert(rows.toArray.sortBy(_._1).iterator
      .map { case (id, v) => (id, v, noTags) }, m, efConstruction, metric),
      metric)

  /** A graph's nodes as [[HnswNodeRow]]s in insertion order (`seq`). */
  def export(part: Int, s: HnswShard, metric: String): Iterator[HnswNodeRow] = {
    val (ep, ml) = s.graph.entryState
    s.graph.exportNodes.iterator.zipWithIndex.map {
      case ((id, vec, level, links), seq) =>
        HnswNodeRow(part, seq, id, vec, s.tags.getOrElse(id, noTags), level,
          links, ep, ml, metric)
    }
  }

  /** [[export]] for an SQ8-coded graph: codes instead of vectors. */
  def exportSq8(part: Int, s: HnswShard,
                metric: String): Iterator[HnswKnn.HnswSq8NodeRow] = {
    val (ep, ml) = s.graph.entryState
    s.graph.exportNodesSq8.iterator.zipWithIndex.map {
      case ((id, codes, level, links), seq) =>
        HnswKnn.HnswSq8NodeRow(part, seq, id, codes, level, links, ep, ml, metric)
    }
  }

  /** Write node rows in the persisted layout, partitioned by `part`. */
  def write(spark: SparkSession, nodes: RDD[HnswNodeRow], path: String): Unit =
    spark.createDataset(nodes)(Encoders.product[HnswNodeRow])
      .write.mode("overwrite").partitionBy("part").parquet(path)

  /** Rebuild one graph from its node rows by array fill, no insertion:
    * rows sort on `seq`, so the graph is the built one bit for bit. */
  def refill(rows: Iterable[HnswNodeRow]): HnswShard = {
    val a = rows.toArray.sortBy(_.seq)
    HnswShard(HnswIndex.fromState(a.map(r => (r.id, r.vec, r.level, r.links))
        .toIndexedSeq, a.head.entryPoint, a.head.maxLevel, a.head.metric),
      a.iterator.filter(_.tags.nonEmpty).map(r => r.id -> r.tags).toMap)
  }

  /** [[refill]] for SQ8 rows, with the (mins, spans) they were coded by. */
  def refillSq8(rows: Iterable[HnswKnn.HnswSq8NodeRow],
                quant: (Array[Double], Array[Double])): HnswShard = {
    val a = rows.toArray.sortBy(_.seq)
    HnswShard(HnswIndex.fromStateSq8(a.map(r => (r.id, r.codes, r.level, r.links))
        .toIndexedSeq, a.head.entryPoint, a.head.maxLevel, a.head.metric, quant),
      Map.empty)
  }

  /** Load persisted node rows executor-resident, one graph per (`key`,
    * part) — `nodes` holds the [[HnswNodeRow]] columns and whatever `key`
    * reads. Each graph gets its own RDD partition by exact index: a hash
    * partitioner co-locates colliding graphs (≈1/e of partitions empty when
    * the graph count is near the partition count), and a probe task walks
    * its partition's graphs serially, so collisions silently cap a batch's
    * task fan. The graph universe costs one metadata-scale distinct. */
  def pin[K: Encoder: Ordering](nodes: DataFrame, key: Column):
      (RDD[(K, HnswShard)], Int, Map[K, Array[Int]]) = {
    val node = Encoders.product[HnswNodeRow]
    val keyed = nodes.select(key.as("_1"),
        struct(node.schema.fieldNames.toSeq.map(col): _*).as("_2"))
      .as(Encoders.tuple(implicitly[Encoder[K]], node))
    val graphs = keyed.select(col("_1"), col("_2.part")).distinct()
      .as(Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaInt))
      .collect().sorted
    val index = graphs.zipWithIndex.toMap
    val exact = new org.apache.spark.Partitioner {
      def numPartitions: Int = math.max(1, graphs.length)
      // the universe comes from a separate read than the groupBy below;
      // nothing pins the two reads to one snapshot, so a graph present
      // only in the second must land deterministically, not fail the job
      def getPartition(g: Any): Int =
        index.getOrElse(g.asInstanceOf[(K, Int)], math.floorMod(g.hashCode, numPartitions))
    }
    pinShards(keyed.rdd.groupBy((r: (K, HnswNodeRow)) => (r._1, r._2.part), exact)
      .map { case ((k, _), rows) => (k, refill(rows.map(_._2))) })
  }

  /** Persist shards `MEMORY_AND_DISK` and materialize them: (the pinned
    * RDD, their vector dimension, key → the partitions holding it). */
  def pinShards[K](rdd: RDD[(K, HnswShard)]): (RDD[(K, HnswShard)], Int, Map[K, Array[Int]]) = {
    val (dim, shardsOf) = ResidentServe.materializeKeyed(
      rdd.persist(StorageLevel.MEMORY_AND_DISK))(_._1)(
      s => Iterator(s._2.graph.dim).filter(_ >= 0))
    (rdd, dim, shardsOf)
  }

  /** (qid, qvec, qtags) of a query frame; `qtags` empty unless `tagged`. */
  def queries(df: DataFrame, tagged: Boolean): Array[(Long, Array[Float], Array[Int])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("qid").cast("long"), col("qvec"),
        if (tagged) col("qtags") else array().cast("array<int>"))
      .as[(Long, Array[Float], Array[Int])].collect()
  }

  /** The lazy probe of unpinned shards: every shard searches every query
    * of the broadcast batch; (qid, id, dist) candidates, at most `k` per
    * (query, shard). */
  def candidates(shards: RDD[(Int, HnswShard)], queryFrame: DataFrame,
                 tagged: Boolean, k: Int, ef: Int): DataFrame = {
    val spark = queryFrame.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(queries(queryFrame, tagged))
    shards.flatMap { case (_, s) =>
      bq.value.iterator.flatMap { case (qid, qv, qt) =>
        s.search(qv, qt, k, ef).iterator.map { case (id, d) => (qid, id, d) }
      }
    }.toDF("qid", "id", "dist")
  }
}

/** Executor-resident HNSW index, one graph per partition (see
  * [[HnswKnn.loadResident]] and [[HnswKnn.buildResident]]). Every probe —
  * the DataFrame forms too — is one served batch over the pinned graphs
  * ([[ResidentServe]]); results equal [[HnswKnn.knn]] on the same build.
  * Call [[unload]] when done — the graphs hold executor storage until
  * then. */
final class HnswResident private[index] (spark: SparkSession,
                                         rdd: RDD[(Int, HnswShard)],
                                         dim: Int) {

  /** Plain probe; `tombstones` are excluded IN-TRAVERSAL — the graph walks
    * through deleted nodes but never admits them (the reference's
    * DELETE_MARK semantics, filter/hnsw/hnswalg.h:1392-1425,
    * streaming/diskann/diskann-str.py:83-99), so a persisted graph serves
    * post-delete workloads WITHOUT rebuild. The tombstone set is bounded by
    * the consolidation threshold (compaction rebuilds and clears it), so
    * the broadcast stays small by construction. Eager: the rows come back
    * by value. */
  def probe(queries: DataFrame, k: Int, efSearch: Int = 64,
            tombstones: Set[Long] = Set.empty): DataFrame =
    ResidentServe.frame(spark, serve(HnswShard.queries(queries, tagged = false),
      k, efSearch, tombstones, Array.empty, 64))

  /** [[probe]] with conjunctive query tags (`queries` carries `qtags`). */
  def probeFiltered(queries: DataFrame, k: Int, efSearch: Int = 64,
                    tombstones: Set[Long] = Set.empty): DataFrame =
    ResidentServe.frame(spark, serve(HnswShard.queries(queries, tagged = true),
      k, efSearch, tombstones, Array.empty, 64))

  /** Serving-form batch probe: the query batch arrives as an in-memory
    * array and the ranked answers return as one — the unit of work a vector
    * server's QPS loop actually measures (the reference's harness feeds a
    * resident index from a preloaded array and collects results client-side
    * per batch, faiss.py:196-205 + the bench loop). One broadcast + ONE
    * narrow job per batch ([[ResidentServe]]): per-partition top-k
    * candidates come back to the driver (k·nq·P rows — driver-sized by the
    * same argument that lets the query set broadcast) and merge in a
    * per-query bounded sort, skipping the global top-k exchange stage
    * entirely. Output rows are (qid, id, dist, rank), sorted by (qid,
    * rank).
    *
    * `tombstones` are excluded in-traversal (see [[probe]]). `delta` holds
    * rows inserted since the resident generation was built, served by
    * exact scan and merged with the graph candidates (the FreshDiskANN
    * shape: immutable built index + small mutable delta), striped across
    * partitions so the scan parallelizes with the probe; the caller bounds
    * its size. Both ride in the batch's one broadcast, so a clean batch
    * pays nothing for them. */
  def probeBatch(qs: Array[(Long, Array[Float])], k: Int, efSearch: Int = 64,
                 tombstones: Set[Long] = Set.empty,
                 delta: Array[(Long, Array[Float])] = Array.empty,
                 treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] =
    serve(qs.map { case (qid, qv) => (qid, qv, HnswShard.noTags) }, k,
      efSearch, tombstones, delta, treeMergeAt)

  private def serve(qs: Array[(Long, Array[Float], Array[Int])], k: Int,
                    efSearch: Int, tombstones: Set[Long],
                    delta: Array[(Long, Array[Float])],
                    treeMergeAt: Int): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    val nParts = math.max(rdd.getNumPartitions, 1)
    // per-query merge with id-dedup (an id can arrive from both the graph
    // and the delta with bit-identical distance): driver merge at serving
    // partition counts, two-level treeAggregate past `treeMergeAt` shards.
    // Every partition gets a task: the delta is striped by partition id
    ResidentServe.probe(rdd, (qs, tombstones, delta), qs.length, k,
        treeMergeAt) { (shard, batch) =>
      val (queries, dead, dArr) = batch
      // this shard's stripe of the delta buffer
      val mine = Iterator.range(TaskContext.getPartitionId(), dArr.length, nParts)
        .map(dArr).filterNot { case (id, _) => dead.contains(id) }.toArray
      queries.iterator.flatMap { case (qid, qv, qt) =>
        // k DISTINCT candidates per (query, partition): a re-inserted
        // graph-resident id shows up in both sources with bit-identical
        // distance, and counting it twice could evict a genuine k-th
        val top = new TopKBuffer(k)
        shard._2.search(qv, qt, k, efSearch, dead)
          .foreach { case (id, d) => top.offer(d, id) }
        mine.foreach { case (id, v) =>
          if (!top.contains(id)) top.offer(shard._2.graph.pairDist(qv, v), id)
        }
        top.rows(qid)
      }
    }
  }

  /** [[probe]] without tombstones (the serving-form name). */
  def probeLocal(queries: DataFrame, k: Int, efSearch: Int = 64): DataFrame =
    probe(queries, k, efSearch)

  def numPartitions: Int = rdd.getNumPartitions

  /** Loan the PRE-MERGE candidates of one probe batch to `f` — one (qid,
    * sorted candidates) row per (query, partition), the stream
    * [[probeBatch]] feeds [[ProbeMerge]] — destroying the batch broadcast
    * after `f` has run its jobs. For serving reduces that fold MORE than a
    * plain top-k merge into the candidate fan-in ([[MaxSimServe]]'s
    * distributed regime) without a second probe pass over the graphs. The
    * arrays arrive already (dist asc, id asc)-sorted from the search, so a
    * downstream `reduceByKey(ProbeMerge.mergeTwo(_, _, c))` costs
    * O(P · c) per query — merging P sorted arrays — where the singleton
    * exploded form costs O(c²) per (query, partition) in the map-side
    * combine (each of c singletons re-copies the growing buffer). At the
    * corpus-relative c knob's 10×-scale values that difference is the
    * whole serving budget. */
  private[index] def withCandidateArrays[T](qs: Array[(Long, Array[Float])],
                                            k: Int, efSearch: Int)(
      f: RDD[(Long, Array[(Long, Double)])] => T): T = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2))
    ResidentServe.withBroadcast(rdd, qs) { bq =>
      f(rdd.flatMap { case (_, s) =>
        bq.value.iterator.map { case (qid, qv) =>
          (qid, s.search(qv, HnswShard.noTags, k, efSearch))
        }
      })
    }
  }

  def unload(): Unit = rdd.unpersist()
}

/** Distributed approximate kNN: one [[HnswIndex]] per partition of the base
  * table, built inside `mapPartitions`, probed with the broadcast query set,
  * partition-local top-k merged by the bounded-heap global top-k.
  *
  * This is the Spark-native shape of the reference's graph path
  * (/root/reference/filter/hnsw/): the index never crosses the wire, only
  * O(k · nq) candidate rows per partition do. Scale-out is by partition
  * count — 1000 executors build 1000 local graphs concurrently; queries are
  * a broadcast (the query table is small by definition of the workload).
  * Recall composes: the global merge of per-partition top-k is exact over
  * the union of per-partition candidates, so total recall ≈ per-partition
  * graph recall, independent of partition count.
  *
  * Builds are DETERMINISTIC: partitions hash on id and sort by id before
  * insertion ([[HnswShard.build]]), so the same base always produces the
  * same graphs — and the persisted index ([[buildAndSave]]/[[probeSaved]])
  * probes identically to the in-memory path.
  *
  * Persistence (S7/X4, the reference's saveIndex/loadIndex
  * hnswalg.h:1224-1362): [[buildAndSave]] writes each partition's graph as
  * parquet rows partitioned by `part`; [[loadResident]] rebuilds each graph
  * with O(n) array fills — no re-insertion — so the build cost is paid once
  * and every probe afterwards is search-only. Build-once/probe-many is the
  * economics that make an ANN index an index.
  */
object HnswKnn {

  /** Cosine-metric graph kNN: cos(q, x) = ⟨q̂, x̂⟩, so the ip graph over
    * unit-normalized vectors IS the cosine index (faiss's
    * METRIC_INNER_PRODUCT + pre-normalize convention — the reference's
    * float cosine path normalizes the same way, bindings.cpp:1114-1121).
    * Norms are precomputed once per row (never per element); candidates
    * come from the normalized ip graph; the final ranking recomputes EXACT
    * cosine on the ORIGINAL vectors, so at the exhaustive beam the result
    * equals the brute-force cosine oracle (hash-gate structure) and at a
    * modest beam the normalization FP error cannot perturb the reported
    * ordering. Zero vectors pass through unnormalized (cosine undefined —
    * they rank by the re-rank kernel like everywhere else). */
  def knnCosine(queries: DataFrame, base: DataFrame, k: Int, m: Int = 16,
                efConstruction: Int = 100, efSearch: Int = 64,
                numPartitions: Int = 8, rerank: Int = 0): DataFrame = {
    val r = math.max(rerank, 2 * k)
    def unit(df: DataFrame, vc: String): DataFrame =
      df.withColumn("_n", sqrt(graft.functions.vectors.vecNorm2(col(vc))))
        .withColumn(vc, expr(
          s"transform($vc, x -> CASE WHEN _n = 0 THEN x ELSE CAST(x / _n AS FLOAT) END)"))
        .drop("_n")
    val cand = knn(
      unit(queries.select(col("qid"), col("qvec")), "qvec"),
      unit(base.select(col("id"), col("vec")), "vec"),
      k = r, m, efConstruction, efSearch, numPartitions, metric = "ip")
      .select("qid", "id")
    val exact = cand
      .join(base.select(col("id"), col("vec")), "id")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .withColumn("dist", graft.operators.Metric.distColumn(
        graft.operators.Metric.Cosine, col("qvec"), col("vec")))
    TopK.aggTopK(exact, "qid", "id", "dist", k)
  }

  /** Plain ANN top-k join: (qid, id, dist, rank). `metric` = l2 | ip
    * (negated max-inner-product — the OOD track's flagship metric,
    * /root/reference/ood/base.py:3, diskann-in-mem.py:48-56). */
  def knn(queries: DataFrame, base: DataFrame, k: Int, m: Int = 16,
          efConstruction: Int = 100, efSearch: Int = 64,
          numPartitions: Int = 8, metric: String = "l2"): DataFrame =
    TopK.aggTopK(HnswShard.candidates(
      HnswShard.build(base, numPartitions, m, efConstruction, metric),
      queries, tagged = false, k, efSearch), "qid", "id", "dist", k)

  /** Label-filtered ANN: the per-query label must equal the base row's
    * label — the conjunctive-tag search with the label as a one-tag set
    * (the same predicate, so the same traversal). One-stage semantics (J3):
    * the beam widens until ≥ k allowed candidates are admitted, then exact
    * ranking (see [[HnswIndex.searchFiltered]]). */
  def filteredKnn(queries: DataFrame, base: DataFrame, k: Int, m: Int = 16,
                  efConstruction: Int = 100, efSearch: Int = 64,
                  numPartitions: Int = 8, metric: String = "l2"): DataFrame =
    filteredKnnTags(
      queries.select(col("qid"), col("qvec"),
        array(col("qlabel").cast("int")).as("qtags")),
      base.select(col("id"), col("vec"), array(col("label").cast("int")).as("tags")),
      k, m, efConstruction, efSearch, numPartitions, metric)

  /** Conjunctive-tag filtered ANN — the reference's filter-track semantics
    * (1–2 query tags, ALL must be present on the base row,
    * faiss.py:375-377) on the graph path: one-stage expand-until-k with
    * exact ranking among admitted candidates. `queries` = (qid, qvec,
    * qtags); `base` = (id, vec, tags). */
  def filteredKnnTags(queries: DataFrame, base: DataFrame, k: Int,
                      m: Int = 16, efConstruction: Int = 100,
                      efSearch: Int = 64, numPartitions: Int = 8,
                      metric: String = "l2"): DataFrame =
    TopK.aggTopK(HnswShard.candidates(
      HnswShard.build(base, numPartitions, m, efConstruction, metric),
      queries, tagged = true, k, efSearch), "qid", "id", "dist", k)

  /** Build per-partition graphs once and persist them as parquet rows
    * partitioned by `part`. `base` needs (id, vec) and may carry a
    * `tags ARRAY<INT>` column for filtered probes. */
  def buildAndSave(base: DataFrame, path: String, m: Int = 16,
                   efConstruction: Int = 100, numPartitions: Int = 8,
                   metric: String = "l2"): Unit =
    HnswShard.write(base.sparkSession,
      HnswShard.build(base, numPartitions, m, efConstruction, metric)
        .flatMap { case (part, s) => HnswShard.export(part, s, metric) }, path)

  /** Probe a persisted index: plain top-k. Loads the graphs resident,
    * probes them as one served batch and unloads; results are identical to
    * [[knn]] on the same base/partitioning. */
  def probeSaved(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, efSearch: Int = 64,
                 tombstones: Set[Long] = Set.empty): DataFrame = {
    val r = loadResident(spark, path)
    try r.probe(queries, k, efSearch, tombstones) finally r.unload()
  }

  /** Probe a persisted index with conjunctive tags (the saved rows must
    * carry tags). */
  def probeSavedFiltered(spark: SparkSession, path: String, queries: DataFrame,
                         k: Int, efSearch: Int = 64,
                         tombstones: Set[Long] = Set.empty): DataFrame = {
    val r = loadResident(spark, path)
    try r.probeFiltered(queries, k, efSearch, tombstones) finally r.unload()
  }

  /** Build per-partition graphs ONCE, pin them executor-resident, and write
    * the persisted artifact FROM the resident graphs — [[buildAndSave]]
    * followed by [[loadResident]] without the parquet round-trip in
    * between (one build pass instead of build + export + re-read +
    * refill). Same deterministic partitioning and insertion order, so the
    * graphs are identical to what loadResident would reconstruct; the
    * artifact stays on disk for later [[probeSaved]]/[[loadResident]]
    * callers. This is the rebuild path a streaming runbook takes on every
    * insert-then-search step, where the doubled build cost actually
    * dominates wall time. */
  def buildResidentAndSave(base: DataFrame, path: String, m: Int = 16,
                           efConstruction: Int = 100, numPartitions: Int = 8,
                           metric: String = "l2"): HnswResident = {
    val (rdd, dim, _) = HnswShard.pinShards(
      HnswShard.build(base, numPartitions, m, efConstruction, metric))
    HnswShard.write(base.sparkSession,
      rdd.flatMap { case (part, s) => HnswShard.export(part, s, metric) }, path)
    new HnswResident(base.sparkSession, rdd, dim)
  }

  /** [[buildResidentAndSave]] WITHOUT the persisted artifact: build the
    * per-partition graphs once and pin them executor-resident. For callers
    * that probe within the same session and never reload (the in-query ANN
    * composition gates; serving tiers that own their registry should
    * persist). An evicted graph rebuilds from lineage, identically. */
  def buildResident(base: DataFrame, m: Int = 16, efConstruction: Int = 100,
                    numPartitions: Int = 8,
                    metric: String = "l2"): HnswResident = {
    val (rdd, dim, _) = HnswShard.pinShards(
      HnswShard.build(base, numPartitions, m, efConstruction, metric))
    new HnswResident(base.sparkSession, rdd, dim)
  }

  /** Load the persisted graphs into an executor-RESIDENT index: the rebuild
    * happens once and the built [[HnswIndex]] objects pin in executor
    * storage, one per partition; every subsequent probe is a NARROW job over
    * the resident graphs — no parquet re-read, no shuffle, no rebuild. This
    * is the serving shape: the reference keeps its index in RAM between
    * queries (faiss.py:196-205 load-or-build, then query-only). An evicted
    * graph refills from the parquet rows. */
  def loadResident(spark: SparkSession, path: String): HnswResident = {
    import spark.implicits._
    val (rdd, dim, _) = HnswShard.pin[Int](spark.read.parquet(path), col("part"))
    new HnswResident(spark, rdd, dim)
  }

  /** One persisted row of a QUANTIZED partition-local graph: uint8 codes
    * instead of float vectors — the reference's memory model
    * (hnswalg.h:132-136 stores the uint8 arena), making the artifact ~4×
    * smaller. The (mins, spans) the codes were encoded with are persisted
    * once in a `<path>.quant` sidecar. */
  final case class HnswSq8NodeRow(part: Int, seq: Int, id: Long,
                                  codes: Array[Byte], level: Int,
                                  links: Array[Array[Int]],
                                  entryPoint: Int, maxLevel: Int,
                                  metric: String)

  /** SQ8-coded graph ANN with exact re-rank: per-partition graphs store
    * uint8 codes and traverse with INTEGER distances; each partition
    * returns its top-`rerank` candidates by code distance, and the global
    * dataflow re-ranks the union exactly against the float rows — the
    * reference baseline's SQ8 + refine composition on the graph path
    * (config.yaml:50-53 indexkey + the hnswalg uint8 arena). Only
    * rerank·nq float rows are ever touched per query. */
  def knnSq8(queries: DataFrame, base: DataFrame, k: Int, rerank: Int,
             mins: Array[Double], spans: Array[Double], m: Int = 16,
             efConstruction: Int = 100, efSearch: Int = 64,
             numPartitions: Int = 8, metric: String = "l2"): DataFrame = {
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    rerankExact(HnswShard.build(base, numPartitions, m, efConstruction, metric,
      Some((mins, spans))), queries, base, k, rerank, efSearch, metric)
  }

  /** Exact re-rank against the float rows of the SQ8 graphs' top-`rerank`
    * (qid, id) candidates. */
  private def rerankExact(shards: RDD[(Int, HnswShard)], queries: DataFrame,
                          base: DataFrame, k: Int, rerank: Int, efSearch: Int,
                          metric: String): DataFrame = {
    val mkMetric = metric match {
      case "ip" => graft.operators.Metric.Ip
      case _    => graft.operators.Metric.L2
    }
    val exact = HnswShard.candidates(shards, queries, tagged = false, rerank,
        math.max(efSearch, rerank)).select("qid", "id")
      .join(base.select(col("id").cast("long"), col("vec")), "id")
      .join(broadcast(queries.select(col("qid").cast("long"), col("qvec"))), "qid")
      .withColumn("dist", graft.operators.Metric.distColumn(
        mkMetric, col("qvec"), col("vec")))
    TopK.aggTopK(exact, "qid", "id", "dist", k)
  }

  /** Build per-partition QUANTIZED graphs and persist: code rows under
    * `path`, the (mins, spans) sidecar under `<path>.quant`. */
  def buildAndSaveSq8(base: DataFrame, path: String, mins: Array[Double],
                      spans: Array[Double], m: Int = 16,
                      efConstruction: Int = 100, numPartitions: Int = 8,
                      metric: String = "l2"): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    spark.createDataset(HnswShard.build(base, numPartitions, m, efConstruction,
        metric, Some((mins, spans)))
        .flatMap { case (part, s) => HnswShard.exportSq8(part, s, metric) })
      .write.mode("overwrite").partitionBy("part").parquet(path)
    Seq((mins, spans)).toDF("mins", "spans")
      .write.mode("overwrite").parquet(path + ".quant")
  }

  /** Probe a persisted SQ8 graph: integer-distance candidates from the
    * code graph, exact float re-rank against `base`. Needs the base table
    * because the artifact intentionally carries no floats. */
  def probeSavedSq8(spark: SparkSession, path: String, queries: DataFrame,
                    base: DataFrame, k: Int, rerank: Int,
                    efSearch: Int = 64): DataFrame = {
    import spark.implicits._
    require(rerank >= k, s"rerank $rerank must be >= k $k")
    val qrow = spark.read.parquet(path + ".quant").head()
    val quant = (qrow.getSeq[Double](0).toArray, qrow.getSeq[Double](1).toArray)
    val storedMetric =
      spark.read.parquet(path).select("metric").head().getString(0)
    val shards = spark.read.parquet(path).as[HnswSq8NodeRow].rdd
      .groupBy(_.part).map { case (part, rows) => (part, HnswShard.refillSq8(rows, quant)) }
    rerankExact(shards, queries, base, k, rerank, efSearch, storedMetric)
  }
}
