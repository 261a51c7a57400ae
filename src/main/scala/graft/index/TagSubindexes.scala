package graft.index

import graft.operators.{TagFilter, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Every subindex of one registry path, loaded into a SINGLE
  * executor-resident RDD of (key, graph) — key is the registry directory
  * value (`"<tag>"` or `"<t1>_<t2>"`). The reference holds its ~300 hot-tag
  * indexes in RAM side by side and probes whichever one a query routes to
  * (/root/reference/filter/faiss/faiss.py:268-337, the load_index path);
  * this is that shape on Spark: ONE narrow job serves an arbitrary mix of
  * query groups. The alternative — one probe job per group — serializes on
  * the driver and its job count grows with the hot-tag vocabulary rather
  * than the data, which is exactly the scaling failure a registry must not
  * have. */
final class ResidentTagRegistry private[index] (
    spark: SparkSession,
    rdd: org.apache.spark.rdd.RDD[(String, HnswIndex)],
    val keys: Set[String], dim: Int, shardsOf: Map[String, Array[Int]]) {

  /** Resident (key, part) graph count = the per-job task fan of a batch
    * that hits every key ([[TagSubindexes.loadResident]] pins one graph
    * per RDD partition). Callers size [[probeGroupsBatch]]'s `slices` off
    * this: slices ≈ ceil(2·cores / numElements) keeps the machine full
    * when the batch's key set is narrower than the core count. */
  def numElements: Int = rdd.getNumPartitions

  /** Probe query groups keyed by registry key, all in one narrow job;
    * groups whose key has no subindex yield no rows (callers fall back to
    * the posting path). Returns (qid, id, dist, rank) — row-identical to
    * probing each key's artifact with [[HnswKnn.probeSaved]] and unioning,
    * because each qid's candidates still come only from its own key's
    * graph partitions and the same (dist asc, id asc) top-k merges them. */
  def probeGroups(groups: Map[String, Array[(Long, Array[Float])]], k: Int,
                  efSearch: Int): DataFrame = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(groups)
    val local = rdd.flatMap { case (key, idx) =>
      bq.value.getOrElse(key, Array.empty[(Long, Array[Float])])
        .iterator.flatMap { case (qid, qv) =>
          idx.search(qv, k, efSearch).iterator
            .map { case (id, d) => (qid, id, d) }
        }
    }.toDF("qid", "id", "dist")
    TopK.aggTopK(local, "qid", "id", "dist", k)
  }

  /** Serving-form batch variant of [[probeGroups]]: query groups in, ranked
    * (qid, id, dist, rank) rows out through the [[ProbeMerge]] fan-in — no
    * DataFrame plumbing or exchange per batch, the unit a QPS loop times.
    * Each qid routes to exactly one key, so its candidates come only from
    * that key's graph partitions; rows equal [[probeGroups]]'s.
    *
    * `slices` > 1 runs the batch as that many CONCURRENT narrow jobs
    * ([[ProbeSlices.striped]]), each over a round-robin stripe of the
    * batch's queries. A probe job's
    * task fan is bounded by the resident (key, part) graph count — a batch
    * over a handful of hot tags leaves most of the machine idle no matter
    * how many queries it carries (the r10 10M headline ran at cpu_frac
    * 0.30 on exactly this bound) — and the graphs are PINNED, so the fan
    * cannot be widened inside one job. Concurrent stripe jobs share the
    * executor's task slots (the reference serves with a thread pool over
    * queries for the same reason, filter/faiss/faiss.py:420-426): total
    * probe work is unchanged — each qid is still searched once, against
    * only its own key's graphs — parallelism becomes elements × slices.
    * Rows are identical to the unsliced call: stripes partition qids, and
    * the per-qid result never depends on which other qids share its job. */
  def probeGroupsBatch(groups: Map[String, Array[(Long, Array[Float])]],
                       k: Int, efSearch: Int,
                       treeMergeAt: Int = 64,
                       slices: Int = 1): Array[(Long, Long, Double, Long)] = {
    val flat = groups.toArray.flatMap { case (key, qs) =>
      qs.map { case (qid, qv) => (key, qid, qv) }
    }
    ResidentServe.validate(k, dim, flat.iterator.map(_._3))
    ProbeSlices.striped(flat, slices) { stripe =>
      val g = stripe.groupBy(_._1).map { case (key, rows) =>
        key -> rows.map(r => (r._2, r._3))
      }
      // tasks launch only on the (key, part) graphs of the stripe's keys
      val parts = g.keysIterator
        .flatMap(shardsOf.getOrElse(_, Array.empty[Int])).toSeq.distinct.sorted
      ResidentServe.probe(rdd, g, stripe.length, k, treeMergeAt,
          parts = Some(parts)) {
        (shard, batch) =>
          val (key, idx) = shard
          batch.getOrElse(key, Array.empty[(Long, Array[Float])])
            .iterator.flatMap { case (qid, qv) =>
              idx.search(qv, k, efSearch).iterator
                .map { case (id, d) => (qid, id, d) }
            }
      }
    }(r => (r._1, r._4))
  }

  def unload(): Unit = rdd.unpersist()
}

/** X8 per-tag subindexes (the reference's hot-tag strategy,
  * /root/reference/filter/faiss/faiss.py:268-337): for every tag whose
  * document frequency is at or above `minFreqBp` basis points, build a
  * dedicated partition-local HNSW over ONLY the matching rows, persisted
  * under `path/tag=<t>`. A query on a hot tag then probes a dense purpose-
  * built graph (no filtering needed inside — membership is the index) while
  * rare tags stay on the posting-intersection path; this is exactly the
  * two-regime split the reference's selectivity router makes.
  *
  * Shared payload: the reference shares one level-0 vector arena across its
  * subindexes (hnswalg.h:34-65); here the shared store is the columnar
  * parquet the graphs reference by id — subindex rows carry vectors for
  * probe locality, and the authoritative copy stays deduplicated in the
  * base table.
  */
object TagSubindexes {

  /** Build + persist one graph per hot tag; returns the hot tag ids.
    * `base` = (id, vec, tags).
    *
    * ALL subindexes build in ONE Spark job: rows explode to their hot tags,
    * group by (tag, part) — part assigned with the SAME hash Spark's own
    * `repartition(n, col("id"))` uses, so each graph is bit-identical to a
    * standalone [[HnswKnn.buildAndSave]] over that tag's rows — and every
    * graph builds inside its own group, written once with
    * `partitionBy(tag, part)` into the same `path/tag=<t>/part=<p>` layout
    * probeSaved/loadResident read. At the reference's ~300 hot tags the
    * per-tag-job alternative submits 300 driver-serialized writes; this is
    * one shuffle and one write regardless of vocabulary size. */
  def build(base: DataFrame, path: String, minFreqBp: Long, m: Int = 16,
            efConstruction: Int = 100, numPartitions: Int = 2): Seq[Int] = {
    val spark = base.sparkSession
    import spark.implicits._
    val hot = TagFilter.tagStats(base)
      .where(col("freq_bp") >= minFreqBp)
      .select("tag").collect().map(_.getInt(0)).sorted.toSeq
    if (hot.nonEmpty) {
      val bHot = spark.sparkContext.broadcast(hot.toSet)
      val keyed = base
        .select(col("id").cast("long"), col("vec"),
          array_distinct(col("tags")).as("tags"))
        .as[(Long, Array[Float], Array[Int])]
        .flatMap { case (id, v, tags) =>
          tags.iterator.filter(bHot.value).map(t => (t.toString, id, v))
        }.toDF("key", "id", "vec")
      buildGrouped(keyed, path, "tag", m, efConstruction, numPartitions)
    }
    hot
  }

  /** Hot tag-PAIR subindexes — the second half of the reference's strategy
    * (faiss.py:268-337 builds indexes for frequent tag pairs as well): for
    * every unordered pair co-occurring in ≥ `minPairCount` docs, persist a
    * graph over the docs containing BOTH tags under `path/pair=<a>_<b>`
    * (a < b). A 2-tag query on a built pair probes a purpose-built graph
    * with NO filtering at all — pair membership is the index. Pair
    * discovery is one self-join of the postings on doc id (t1 < t2 halves
    * it); like [[build]], every pair graph builds in ONE grouped job (each
    * row fans out to the hot 2-subsets of its own tag set — a handful per
    * doc — never a row × pair cross join). */
  def buildPairs(base: DataFrame, path: String, minPairCount: Long,
                 m: Int = 16, efConstruction: Int = 100,
                 numPartitions: Int = 2): Seq[(Int, Int)] = {
    val spark = base.sparkSession
    import spark.implicits._
    // pair discovery: each doc contributes the 2-subsets of its own tag set
    // (a handful per doc), aggregated in one shuffle — equivalent to the
    // postings self-join on doc id with t1 < t2, minus the join
    val hot = base
      .select(array_distinct(col("tags")).as("tags"))
      .as[Array[Int]]
      .flatMap { tags =>
        val s = tags.sorted
        for {
          i <- s.indices.iterator
          j <- (i + 1 until s.length).iterator
        } yield (s(i), s(j))
      }.toDF("t1", "t2")
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minPairCount)
      .select("t1", "t2").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sortBy(identity).toSeq
    if (hot.nonEmpty) {
      val bHot = spark.sparkContext.broadcast(hot.toSet)
      val keyed = base
        .select(col("id").cast("long"), col("vec"),
          array_distinct(col("tags")).as("tags"))
        .as[(Long, Array[Float], Array[Int])]
        .flatMap { case (id, v, tags) =>
          val sorted = tags.sorted
          for {
            i <- sorted.indices.iterator
            j <- (i + 1 until sorted.length).iterator
            p = (sorted(i), sorted(j)) if bHot.value(p)
          } yield (s"${p._1}_${p._2}", id, v)
        }.toDF("key", "id", "vec")
      buildGrouped(keyed, path, "pair", m, efConstruction, numPartitions)
    }
    hot
  }

  /** One grouped build for every (key, part) graph: `keyed` = (key, id,
    * vec), one row per subindex membership. Partition assignment uses
    * `pmod(hash(id), n)` — the exact expression behind
    * `repartition(n, col("id"))` (HashPartitioning = Murmur3 pmod n) — and
    * insertion order is ascending id, so each group's graph matches the
    * standalone buildAndSave result bit for bit. */
  private def buildGrouped(keyed: DataFrame, path: String, keyCol: String,
                           m: Int, efConstruction: Int,
                           numPartitions: Int): Unit = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val nodes = keyed
      .withColumn("part",
        pmod(hash(col("id")), lit(numPartitions)).cast("int"))
      .as[(String, Long, Array[Float], Int)]
      .groupByKey { case (key, _, _, part) => (key, part) }
      .flatMapGroups { (kp: (String, Int),
                        it: Iterator[(String, Long, Array[Float], Int)]) =>
        val (key, part) = kp
        val rows = it.toArray.sortBy(_._2) // ascending id = insertion order
        val idx = new HnswIndex(m, efConstruction, "l2")
        rows.foreach { case (_, id, v, _) => idx.add(id, v) }
        val (ep, ml) = idx.entryState
        idx.exportNodes.iterator.zipWithIndex.map {
          case ((id, vec, level, links), seq) =>
            (key, part, seq, id, vec, Array.empty[Int], level, links, ep, ml,
              "l2")
        }
      }
      .toDF(keyCol, "part", "seq", "id", "vec", "tags", "level", "links",
        "entryPoint", "maxLevel", "metric")
    // partition the layout by key ONLY (pruning routes probes to one
    // subindex; `part` earns nothing as a directory — every probe of a key
    // reads all its parts — and doubling the directory count doubles the
    // commit). Clustering by key first makes it one file per subindex
    // instead of (writer tasks × keys) small files.
    nodes.repartition(col(keyCol))
      .write.mode("overwrite").partitionBy(keyCol).parquet(path)
  }

  /** Load EVERY subindex under `path` into one resident registry: a single
    * partition-discovered scan of the registry tree, one O(n) graph refill
    * per (key, part) group — the registry analog of
    * [[HnswKnn.loadResident]]'s build-once/probe-many economics. A registry
    * path holds ONE key kind (`tag=` from [[build]] or `pair=` from
    * [[buildPairs]]); mixing them under one path would give the scan
    * inconsistent partition columns, so it raises rather than guessing. */
  def loadResident(spark: SparkSession, path: String): ResidentTagRegistry = {
    import spark.implicits._
    val tagKeys = builtTags(spark, path).map(_.toString)
    val pairKeys = builtPairs(spark, path).map { case (a, b) => s"${a}_$b" }
    require(tagKeys.isEmpty || pairKeys.isEmpty,
      s"registry $path mixes tag= and pair= subindexes; keep them under " +
        "separate paths")
    val keys = tagKeys ++ pairKeys
    if (keys.isEmpty)
      return new ResidentTagRegistry(spark,
        spark.sparkContext.emptyRDD[(String, HnswIndex)], Set.empty, -1,
        Map.empty)
    val keyCol = if (tagKeys.nonEmpty) "tag" else "pair"
    val rows = spark.read.parquet(path)
      .select(col(keyCol).cast("string").as("key"), col("part"), col("seq"),
        col("id"), col("vec"), col("level"), col("links"),
        col("entryPoint"), col("maxLevel"), col("metric"))
      .as[(String, Int, Int, Long, Array[Float], Int, Array[Array[Int]],
        Int, Int, String)]
    // one RDD partition PER (key, part) graph, by exact index — the default
    // hash partitioner can co-locate several graphs in one partition, and a
    // probe task walks its partition's graphs serially, so collisions
    // silently cap a batch's task fan below the element count. The (key,
    // part) universe is tiny (hot-tag vocabulary × parts) and known from
    // the layout, so an exact map costs one metadata-scale distinct().
    val kps = rows.select(col("key"), col("part")).distinct()
      .as[(String, Int)].collect().sorted
    val kpIdx = kps.zipWithIndex.toMap
    val exact = new org.apache.spark.Partitioner {
      def numPartitions: Int = math.max(1, kps.length)
      // the map comes from a separate read of `rows` than the groupBy
      // below; nothing pins the two reads to one snapshot, so a (key,
      // part) present only in the second read must degrade to a
      // deterministic co-located partition instead of failing the job
      def getPartition(key: Any): Int = {
        val kp = key.asInstanceOf[(String, Int)]
        kpIdx.getOrElse(kp,
          math.floorMod(kp._1.hashCode * 31 + kp._2, math.max(1, kps.length)))
      }
    }
    val rdd = rows.rdd
      .groupBy((r: (String, Int, Int, Long, Array[Float], Int,
        Array[Array[Int]], Int, Int, String)) => (r._1, r._2), exact)
      .map { case ((key, _), it) =>
        val arr = it.toArray.sortBy(_._3)
        val idx = HnswIndex.fromState(
          arr.map(r => (r._4, r._5, r._6, r._7)).toIndexedSeq,
          arr.head._8, arr.head._9, arr.head._10)
        (key, idx)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dim, shardsOf) = ResidentServe.materializeKeyed(rdd)(_._1)(
      g => Iterator(g._2.dim).filter(_ >= 0))
    new ResidentTagRegistry(spark, rdd, keys, dim, shardsOf)
  }

  private[index] def builtPairs(spark: SparkSession, path: String): Set[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .collect { case s if s.startsWith("pair=") =>
        val Array(a, b) = s.stripPrefix("pair=").split("_")
        (a.toInt, b.toInt)
      }.toSet
  }

  /** Probe 2-tag queries (qid, qvec, qtag1, qtag2) against their pair's
    * subindex; pairs without one yield no rows (caller falls back to the
    * posting-intersection path). Tags normalize to (min, max) order. All
    * query groups probe in ONE job through a transient resident registry —
    * the job count no longer grows with the hot-pair vocabulary. */
  def probePairs(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, efSearch: Int = 64): DataFrame = {
    import spark.implicits._
    val groups = queries.select(col("qid").cast("long"), col("qvec"),
      col("qtag1").cast("int"), col("qtag2").cast("int"))
      .as[(Long, Array[Float], Int, Int)].collect()
      .groupBy { case (_, _, t1, t2) =>
        s"${math.min(t1, t2)}_${math.max(t1, t2)}" }
      .map { case (key, qs) =>
        key -> qs.map { case (qid, qv, _, _) => (qid, qv) } }
    probeResident(spark, path, groups, k, efSearch)
  }

  /** Eagerly probe `groups` through a registry loaded for this one call
    * (build-and-gate flows); serving callers hold a [[loadResident]]
    * registry open across batches instead. Eager because the registry is
    * released before returning — the result rows (nq·k, driver-sized by
    * the same argument that lets the queries collect) come back by value. */
  private def probeResident(spark: SparkSession, path: String,
                            groups: Map[String, Array[(Long, Array[Float])]],
                            k: Int, efSearch: Int): DataFrame = {
    import spark.implicits._
    val reg = loadResident(spark, path)
    try {
      val hit = groups.filter { case (key, _) => reg.keys(key) }
      if (hit.isEmpty)
        Seq.empty[(Long, Long, Double, Long)].toDF("qid", "id", "dist", "rank")
      else {
        val rows = reg.probeGroups(hit, k, efSearch)
          .select(col("qid").cast("long"), col("id").cast("long"),
            col("dist").cast("double"), col("rank").cast("long"))
          .as[(Long, Long, Double, Long)].collect().toSeq
        spark.createDataFrame(rows).toDF("qid", "id", "dist", "rank")
      }
    } finally reg.unload()
  }

  /** List the tags with a persisted subindex under `path`, via the Hadoop
    * FileSystem API — `java.io.File` would return null on HDFS/S3 paths and
    * silently disable every hot-tag route. A missing registry directory is
    * an empty registry (nothing built yet), not an error. */
  private[index] def builtTags(spark: SparkSession, path: String): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .collect { case s if s.startsWith("tag=") => s.stripPrefix("tag=").toInt }
      .toSet
  }

  /** Probe: route each single-tag query to its tag's subindex (queries =
    * (qid, qvec, qtag)); tags without a subindex yield no rows — the caller
    * routes those to the posting-intersection path, as the reference does.
    * All per-tag query groups probe in ONE job through a transient resident
    * registry — the job count no longer grows with the hot-tag
    * vocabulary. */
  def probe(spark: SparkSession, path: String, queries: DataFrame, k: Int,
            efSearch: Int = 64): DataFrame = {
    import spark.implicits._
    val groups = queries
      .select(col("qid").cast("long"), col("qvec"), col("qtag").cast("int"))
      .as[(Long, Array[Float], Int)].collect()
      .groupBy(_._3.toString)
      .map { case (key, qs) =>
        key -> qs.map { case (qid, qv, _) => (qid, qv) } }
    probeResident(spark, path, groups, k, efSearch)
  }
}
