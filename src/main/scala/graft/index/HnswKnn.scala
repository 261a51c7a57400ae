package graft.index

import graft.operators.TopK
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

/** Executor-resident loaded HNSW index (see [[HnswKnn.loadResident]]):
  * probes are narrow maps over persisted graph objects. Results equal
  * [[HnswKnn.probeSaved]]/[[HnswKnn.knn]] on the same build. Call
  * [[unload]] when done — the graphs hold executor storage until then. */
final class HnswResident(spark: SparkSession,
                         rdd: org.apache.spark.rdd.RDD[(HnswIndex, Map[Long, Array[Int]])],
                         dim: Int) {

  private def run(qs: Array[(Long, Array[Float], Array[Int])], k: Int,
                  efSearch: Int, filtered: Boolean,
                  tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(qs)
    val bt = spark.sparkContext.broadcast(tombstones)
    val local = rdd.flatMap { case (idx, tagMap) =>
      val dead = bt.value
      bq.value.iterator.flatMap { case (qid, qv, qt) =>
        val res =
          if (filtered || dead.nonEmpty)
            idx.searchFiltered(qv, k, efSearch,
              id => !dead.contains(id) &&
                qt.forall(t => tagMap(id).contains(t)))
          else idx.search(qv, k, efSearch)
        res.iterator.map { case (id, d) => (qid, id, d) }
      }
    }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }

  /** Plain probe; `tombstones` are excluded IN-TRAVERSAL — the graph walks
    * through deleted nodes but never admits them (the reference's
    * DELETE_MARK semantics, filter/hnsw/hnswalg.h:1392-1425,
    * streaming/diskann/diskann-str.py:83-99), so a persisted graph serves
    * post-delete workloads WITHOUT rebuild. The tombstone set is bounded by
    * the consolidation threshold (compaction rebuilds and clears it), so
    * the broadcast stays small by construction. */
  def probe(queries: DataFrame, k: Int, efSearch: Int = 64,
            tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, qv, Array.empty[Int]) }
    run(qs, k, efSearch, filtered = false, tombstones)
  }

  def probeFiltered(queries: DataFrame, k: Int, efSearch: Int = 64,
                    tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"), col("qtags"))
      .as[(Long, Array[Float], Array[Int])].collect()
    run(qs, k, efSearch, filtered = true, tombstones)
  }

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
                 treeMergeAt: Int = 64): Array[(Long, Long, Double, Long)] = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2.length))
    val nParts = math.max(rdd.getNumPartitions, 1)
    // per-query merge with id-dedup (an id can arrive from both the graph
    // and the delta with bit-identical distance): driver merge at serving
    // partition counts, two-level treeAggregate past `treeMergeAt` shards
    ResidentServe.probe(rdd, (qs, tombstones, delta), qs.length, k,
        treeMergeAt) { (shard, batch) =>
      val (idx, _) = shard
      val (queries, dead, dArr) = batch
      // this shard's stripe of the delta buffer
      val mine = Iterator.range(TaskContext.getPartitionId(), dArr.length, nParts)
        .map(dArr).filterNot { case (id, _) => dead.contains(id) }.toArray
      queries.iterator.flatMap { case (qid, qv) =>
        val res =
          if (dead.nonEmpty)
            idx.searchFiltered(qv, k, efSearch, id => !dead.contains(id))
          else idx.search(qv, k, efSearch)
        // k DISTINCT candidates per (query, partition): a re-inserted
        // graph-resident id shows up in both sources with bit-identical
        // distance, and counting it twice could evict a genuine k-th
        val top = new TopKBuffer(k)
        res.foreach { case (id, d) => top.offer(d, id) }
        mine.foreach { case (id, v) =>
          if (!top.contains(id)) top.offer(idx.pairDist(qv, v), id)
        }
        top.rows(qid)
      }
    }
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends. Results equal
    * [[probe]] row-for-row (same (dist, id) ordering; IndexSpec asserts
    * it). */
  def probeLocal(queries: DataFrame, k: Int, efSearch: Int = 64): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    spark.createDataFrame(probeBatch(qs, k, efSearch).toSeq)
      .toDF("qid", "id", "dist", "rank")
  }

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
      f: org.apache.spark.rdd.RDD[(Long, Array[(Long, Double)])] => T): T = {
    ResidentServe.validate(k, dim, qs.iterator.map(_._2.length))
    ResidentServe.withBroadcast(rdd, qs) { bq =>
      f(rdd.flatMap { case (idx, _) =>
        bq.value.iterator.map { case (qid, qv) =>
          (qid, idx.search(qv, k, efSearch))
        }
      })
    }
  }

  private[index] def graphs: org.apache.spark.rdd.RDD[(HnswIndex, Map[Long, Array[Int]])] = rdd

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
  * insertion, so the same base always produces the same graphs — and the
  * persisted index ([[buildAndSave]]/[[probeSaved]]) probes identically to
  * the in-memory path.
  *
  * Persistence (S7/X4, the reference's saveIndex/loadIndex
  * hnswalg.h:1224-1362): [[buildAndSave]] writes each partition's graph as
  * parquet rows partitioned by `part`; [[probeSaved]] rebuilds each graph
  * with O(n) array fills — no re-insertion — so the build cost is paid once
  * and every probe afterwards is search-only. Build-once/probe-many is the
  * economics that make an ANN index an index.
  */
object HnswKnn {

  private def subsetOf(qtags: Array[Int], tags: Array[Int]): Boolean = {
    var i = 0
    while (i < qtags.length) {
      if (!tags.contains(qtags(i))) return false
      i += 1
    }
    true
  }

  /** Plain ANN top-k join: (qid, id, dist, rank). `metric` = l2 | ip
    * (negated max-inner-product — the OOD track's flagship metric,
    * /root/reference/ood/base.py:3, diskann-in-mem.py:48-56). */
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

  def knn(queries: DataFrame, base: DataFrame, k: Int, m: Int = 16,
          efConstruction: Int = 100, efSearch: Int = 64,
          numPartitions: Int = 8, metric: String = "l2"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    val bq = spark.sparkContext.broadcast(qs)
    val local = base.select(col("id").cast("long"), col("vec"))
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id") // deterministic insertion order
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction, metric)
        it.foreach { case (id, v) => idx.add(id, v) }
        bq.value.iterator.flatMap { case (qid, qv) =>
          idx.search(qv, k, efSearch).iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }

  /** Label-filtered ANN: the per-query label must equal the base row's
    * label. One-stage semantics (J3): the beam widens until ≥ k allowed
    * candidates are admitted, then exact ranking (see
    * [[HnswIndex.searchFiltered]]). */
  def filteredKnn(queries: DataFrame, base: DataFrame, k: Int, m: Int = 16,
                  efConstruction: Int = 100, efSearch: Int = 64,
                  numPartitions: Int = 8, metric: String = "l2"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("qvec"), col("qlabel").cast("int"))
      .as[(Long, Array[Float], Int)].collect()
    val bq = spark.sparkContext.broadcast(qs)
    val local = base.select(col("id").cast("long"), col("vec"), col("label").cast("int"))
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction, metric)
        val labels = scala.collection.mutable.HashMap.empty[Long, Int]
        it.foreach { case (id, v, lab) => labels(id) = lab; idx.add(id, v) }
        bq.value.iterator.flatMap { case (qid, qv, qlab) =>
          idx.searchFiltered(qv, k, efSearch, id => labels(id) == qlab)
            .iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }

  /** Conjunctive-tag filtered ANN — the reference's filter-track semantics
    * (1–2 query tags, ALL must be present on the base row,
    * faiss.py:375-377) on the graph path: one-stage expand-until-k with
    * exact ranking among admitted candidates. `queries` = (qid, qvec,
    * qtags); `base` = (id, vec, tags). */
  def filteredKnnTags(queries: DataFrame, base: DataFrame, k: Int,
                      m: Int = 16, efConstruction: Int = 100,
                      efSearch: Int = 64, numPartitions: Int = 8,
                      metric: String = "l2"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("qvec"), col("qtags"))
      .as[(Long, Array[Float], Array[Int])].collect()
    val bq = spark.sparkContext.broadcast(qs)
    val local = base.select(col("id").cast("long"), col("vec"), col("tags"))
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Array[Float], Array[Int])]
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction, metric)
        val tagMap = scala.collection.mutable.HashMap.empty[Long, Array[Int]]
        it.foreach { case (id, v, tg) => tagMap(id) = tg; idx.add(id, v) }
        bq.value.iterator.flatMap { case (qid, qv, qt) =>
          idx.searchFiltered(qv, k, efSearch, id => subsetOf(qt, tagMap(id)))
            .iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }

  /** Build per-partition graphs once and persist them as parquet rows
    * partitioned by `part`. `base` needs (id, vec) and may carry a
    * `tags ARRAY<INT>` column for filtered probes. */
  def buildAndSave(base: DataFrame, path: String, m: Int = 16,
                   efConstruction: Int = 100, numPartitions: Int = 8,
                   metric: String = "l2"): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    val withTags =
      if (base.columns.contains("tags"))
        base.select(col("id").cast("long"), col("vec"), col("tags"))
      else
        base.select(col("id").cast("long"), col("vec"),
          array().cast("array<int>").as("tags"))
    val nodes = withTags.as[(Long, Array[Float], Array[Int])]
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id")
      .mapPartitions { it =>
        val part = TaskContext.getPartitionId()
        val rows = it.toArray
        val idx = new HnswIndex(m, efConstruction, metric)
        rows.foreach { case (id, v, _) => idx.add(id, v) }
        val (ep, ml) = idx.entryState
        idx.exportNodes.iterator.zipWithIndex.map {
          case ((id, vec, level, links), seq) =>
            HnswNodeRow(part, seq, id, vec, rows(seq)._3, level, links, ep, ml,
              metric)
        }
      }
    nodes.toDF().write.mode("overwrite").partitionBy("part").parquet(path)
  }

  /** Probe a persisted index: plain top-k. Rebuilds each partition's graph
    * by direct array fill (no insertion), probes with the broadcast query
    * set. Results are identical to [[knn]] on the same base/partitioning. */
  def probeSaved(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, efSearch: Int = 64,
                 tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, qv, Array.empty[Int]) }
    probeImpl(spark, path, qs, k, efSearch, filtered = false, tombstones)
  }

  /** Probe a persisted index with conjunctive tags (the saved rows must
    * carry tags). */
  def probeSavedFiltered(spark: SparkSession, path: String, queries: DataFrame,
                         k: Int, efSearch: Int = 64,
                         tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("qid").cast("long"), col("qvec"), col("qtags"))
      .as[(Long, Array[Float], Array[Int])].collect()
    probeImpl(spark, path, qs, k, efSearch, filtered = true, tombstones)
  }

  /** Load the persisted graphs into an executor-RESIDENT index: the rebuild
    * happens once and the built [[HnswIndex]] objects pin in executor
    * storage as a persisted RDD; every subsequent probe is a NARROW map over
    * the resident graphs — no parquet re-read, no shuffle, no rebuild. This
    * is the serving shape: [[probeSaved]] pays one graph shuffle per batch
    * (fine for occasional batches), resident probing amortizes load across
    * a query stream the way the reference keeps its index in RAM between
    * queries (faiss.py:196-205 load-or-build, then query-only). */
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
    val spark = base.sparkSession
    val resident = buildResident(base, m, efConstruction, numPartitions, metric)
    val built = resident.graphs
    val nodes = built.mapPartitionsWithIndex { case (part, it) =>
      it.flatMap { case (idx, tagMap) =>
        val (ep, ml) = idx.entryState
        idx.exportNodes.iterator.zipWithIndex.map {
          case ((id, vec, level, links), seq) =>
            HnswNodeRow(part, seq, id, vec, tagMap(id), level, links, ep, ml,
              metric)
        }
      }
    }
    spark.createDataset(nodes)(org.apache.spark.sql.Encoders.product[HnswNodeRow])
      .toDF()
      .write.mode("overwrite").partitionBy("part").parquet(path)
    resident
  }

  /** [[buildResidentAndSave]] WITHOUT the persisted artifact: build the
    * per-partition graphs once and pin them executor-resident. For callers
    * that probe within the same session and never reload (the in-query ANN
    * composition gates; serving tiers that own their registry should
    * persist). Same deterministic partitioning/insertion order as the
    * saving form. */
  def buildResident(base: DataFrame, m: Int = 16, efConstruction: Int = 100,
                    numPartitions: Int = 8,
                    metric: String = "l2"): HnswResident = {
    val spark = base.sparkSession
    import spark.implicits._
    val withTags =
      if (base.columns.contains("tags"))
        base.select(col("id").cast("long"), col("vec"), col("tags"))
      else
        base.select(col("id").cast("long"), col("vec"),
          array().cast("array<int>").as("tags"))
    val built = withTags.as[(Long, Array[Float], Array[Int])]
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id") // deterministic insertion order
      .rdd
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction, metric)
        val tagMap = Map.newBuilder[Long, Array[Int]]
        it.foreach { case (id, v, tg) => tagMap += id -> tg; idx.add(id, v) }
        Iterator.single((idx, tagMap.result()))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new HnswResident(spark, built, materialize(built))
  }

  /** Pin freshly persisted graphs; returns their vector dimension. */
  private def materialize(
      rdd: org.apache.spark.rdd.RDD[(HnswIndex, Map[Long, Array[Int]])]): Int =
    ResidentServe.materialize(rdd)(g => Iterator(g._1.dim).filter(_ >= 0))

  def loadResident(spark: SparkSession, path: String): HnswResident = {
    import spark.implicits._
    val rdd = spark.read.parquet(path).as[HnswNodeRow].rdd
      .groupBy(_.part)
      .map { case (_, rows) =>
        val arr = rows.toArray.sortBy(_.seq)
        val idx = HnswIndex.fromState(
          arr.map(r => (r.id, r.vec, r.level, r.links)).toIndexedSeq,
          arr.head.entryPoint, arr.head.maxLevel, arr.head.metric)
        (idx, arr.map(r => r.id -> r.tags).toMap)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new HnswResident(spark, rdd, materialize(rdd))
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
    val spark = base.sparkSession
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    val bq = spark.sparkContext.broadcast(qs)
    val cand = base.select(col("id").cast("long"), col("vec"))
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val idx = new HnswIndex(m, efConstruction, metric, Some((mins, spans)))
        it.foreach { case (id, v) => idx.add(id, v) }
        bq.value.iterator.flatMap { case (qid, qv) =>
          idx.search(qv, rerank, math.max(efSearch, rerank))
            .iterator.map { case (id, _) => (qid, id) }
        }
      }.toDF("qid", "id")
    rerankExact(cand, queries, base, k, metric)
  }

  /** Exact re-rank of (qid, id) candidates against the float rows. */
  private def rerankExact(cand: DataFrame, queries: DataFrame,
                          base: DataFrame, k: Int, metric: String): DataFrame = {
    val mkMetric = metric match {
      case "ip" => graft.operators.Metric.Ip
      case _    => graft.operators.Metric.L2
    }
    val exact = cand
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
    val nodes = base.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .repartition(numPartitions, col("id"))
      .sortWithinPartitions("id")
      .mapPartitions { it =>
        val part = TaskContext.getPartitionId()
        val idx = new HnswIndex(m, efConstruction, metric, Some((mins, spans)))
        it.foreach { case (id, v) => idx.add(id, v) }
        val (ep, ml) = idx.entryState
        idx.exportNodesSq8.iterator.zipWithIndex.map {
          case ((id, codes, level, links), seq) =>
            HnswSq8NodeRow(part, seq, id, codes, level, links, ep, ml, metric)
        }
      }
    nodes.toDF().write.mode("overwrite").partitionBy("part").parquet(path)
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
    val quantParams = (qrow.getSeq[Double](0).toArray, qrow.getSeq[Double](1).toArray)
    val storedMetric =
      spark.read.parquet(path).select("metric").head().getString(0)
    val qs = queries.select(col("qid").cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    val bq = spark.sparkContext.broadcast(qs)
    val cand = spark.read.parquet(path).as[HnswSq8NodeRow]
      .groupByKey(_.part)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_.seq)
        val idx = HnswIndex.fromStateSq8(
          rows.map(r => (r.id, r.codes, r.level, r.links)).toIndexedSeq,
          rows.head.entryPoint, rows.head.maxLevel, rows.head.metric,
          quantParams)
        bq.value.iterator.flatMap { case (qid, qv) =>
          idx.search(qv, rerank, math.max(efSearch, rerank))
            .iterator.map { case (id, _) => (qid, id) }
        }
      }.toDF("qid", "id")
    rerankExact(cand, queries, base, k, storedMetric)
  }

  private def probeImpl(spark: SparkSession, path: String,
                        qs: Array[(Long, Array[Float], Array[Int])],
                        k: Int, efSearch: Int, filtered: Boolean,
                        tombstones: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(qs)
    val bt = spark.sparkContext.broadcast(tombstones)
    val local = spark.read.parquet(path).as[HnswNodeRow]
      .groupByKey(_.part)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_.seq)
        val idx = HnswIndex.fromState(
          rows.map(r => (r.id, r.vec, r.level, r.links)).toIndexedSeq,
          rows.head.entryPoint, rows.head.maxLevel, rows.head.metric)
        val tagMap: Long => Array[Int] =
          if (filtered) rows.map(r => r.id -> r.tags).toMap else _ => Array.empty
        val dead = bt.value
        bq.value.iterator.flatMap { case (qid, qv, qt) =>
          val res =
            if (filtered || dead.nonEmpty)
              idx.searchFiltered(qv, k, efSearch,
                id => !dead.contains(id) && subsetOf(qt, tagMap(id)))
            else idx.search(qv, k, efSearch)
          res.iterator.map { case (id, d) => (qid, id, d) }
        }
      }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }
}
