package graft

import graft.index._
import graft.operators._
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** What one resident serving batch asks of Spark: exactly one job, run
  * directly on the pinned RDD (no per-batch derived RDD), with tasks only
  * on the shards the batch routes to. */
class ResidentJobSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()
  lazy val base = emb.select($"vec_id".as("id"), $"embedding".as("vec")).cache()
  lazy val qs: Array[(Long, Array[Float])] = emb.where($"vec_id" < 12)
    .select($"vec_id".cast("long"), $"embedding")
    .as[(Long, Array[Float])].collect()

  /** The jobs `body` submits, as (result-stage RDD id, tasks the result
    * stage ran) each, in submission order. */
  private def jobsOf(body: => Any): Seq[(Int, Int)] = {
    val sc = spark.sparkContext
    GraftTestBridge.drainListeners(sc)
    val stages = mutable.ArrayBuffer.empty[(Int, Int)] // (stage id, rdd id)
    val tasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        // the result stage is created last, after any parent stage
        val rs = e.stageInfos.maxBy(_.stageId)
        stages += ((rs.stageId, rs.rddInfos.head.id))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        tasks(e.stageId) += 1
      }
    }
    sc.addSparkListener(listener)
    try { body; GraftTestBridge.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    listener.synchronized {
      stages.map { case (st, rdd) => (rdd, tasks(st)) }.toSeq
    }
  }

  /** `load`'s result and the ids of the RDDs it pinned. */
  private def pinned[T](load: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t = load
    (t, spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet)
  }

  /** One job, on one of `resident`, running `tasks` tasks. */
  private def assertOneJob(what: String, resident: Set[Int], tasks: Int)(
      jobs: Seq[(Int, Int)]): Unit = {
    assert(jobs.length === 1, s"$what: jobs per batch")
    assert(resident(jobs.head._1),
      s"$what: result-stage RDD ${jobs.head._1} is not the resident RDD " +
        resident.mkString("{", ",", "}"))
    assert(jobs.head._2 === tasks, s"$what: tasks per batch")
  }

  /** Elements in each partition of the one RDD a loader pinned. */
  private def perPartition(rdds: Set[Int]): Seq[Int] = {
    assert(rdds.size === 1, s"pinned RDDs $rdds")
    spark.sparkContext.getPersistentRDDs(rdds.head)
      .mapPartitions(it => Iterator.single(it.size)).collect().toSeq
  }

  private def centroidRank(qv: Array[Float],
                           cs: Array[(Int, Array[Float])]): Array[Int] =
    cs.map { case (cid, c) =>
      (qv.indices.map(i => { val d = qv(i).toDouble - c(i); d * d }).sum, cid)
    }.sorted.map(_._2)

  test("one job per resident batch, run on the pinned RDD: scan, routed " +
       "graph, postings") {
    base.count()
    val sq = qs.map { case (q, v) => (q, v, Array.empty[Int], 0L) }
    val (scan, scanRdd) = pinned(
      ResidentScan.load(TagFilter.withTags(emb), numPartitions = 4))
    try assertOneJob("scan", scanRdd, 4)(jobsOf(scan.probeBatch(sq, 10)))
    finally scan.unload()

    val rp = java.nio.file.Files.createTempDirectory("graft-job-rt")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, rp, c = 4, kmIters = 2)
    val (routed, routedRdd) = pinned(HnswRouted.loadResident(spark, rp))
    val clusters = spark.read.parquet(rp).select("part").distinct().count()
    try assertOneJob("routed graph", routedRdd, clusters.toInt)(
      jobsOf(routed.probeBatch(qs, 10, 64, nprobe = 4)))
    finally routed.unload()

    val tf = Sparse.fromTermFreq(Tables.documents(spark, sfDir)).cache()
    val pq = tf.where($"id" < 5)
      .select($"id".cast("long"), $"dim".cast("string"), $"v".cast("long"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
    val (postings, postingsRdd) = pinned(
      ResidentPostings.load(tf, 16, numPartitions = 2))
    try assertOneJob("postings", postingsRdd, 2)(
      jobsOf(postings.probeBatch(pq, 5)))
    finally { postings.unload(); tf.unpersist() }
  }

  test("routed batches launch tasks only on the routed shards, with the " +
       "all-shard rows") {
    base.count()
    val rp = java.nio.file.Files.createTempDirectory("graft-job-routed")
      .resolve("idx").toString
    HnswRouted.buildAndSave(base, rp, c = 6, kmIters = 2)
    val (routed, routedRdd) = pinned(HnswRouted.loadResident(spark, rp))
    try {
      // two queries, two clusters each: the shards they route to
      val batch = qs.take(2)
      val routes = batch.map { case (qid, qv) =>
        qid -> centroidRank(qv, routed.router.centroids).take(2).toSet }.toMap
      val shards = routes.values.flatten.toSet
      assert(shards.size < 6, "the batch must leave some shard unrouted")
      var got = Array.empty[(Long, Long, Double, Long)]
      assertOneJob("routed graph", routedRdd, shards.size)(jobsOf {
        got = routed.probeBatch(batch, 10, efSearch = 1 << 20, nprobe = 2)
      })
      // an exhaustive beam on every shard it routes to is exact over the
      // routed clusters' rows: the answer a launch on every shard gives
      val rows = spark.read.parquet(rp)
        .select($"part".cast("int"), $"id", $"vec")
        .as[(Int, Long, Array[Float])].collect()
      val want = batch.flatMap { case (qid, qv) =>
        rows.filter(r => routes(qid)(r._1))
          .map(r => (qv.indices.map(i => {
            val d = qv(i).toDouble - r._3(i); d * d }).sum, r._2))
          .sorted.take(10).zipWithIndex
          .map { case ((_, id), i) => (qid, id, i + 1L) }
      }
      assert(got.map(r => (r._1, r._2, r._4)).toSet === want.toSet)
    } finally routed.unload()

    // tag registry: only the (key, part) graphs of the batch's keys
    val b = TagFilter.withTags(emb)
    val path = java.nio.file.Files.createTempDirectory("graft-job-tags")
      .resolve("idx").toString
    val hot = TagSubindexes.build(b, path, minFreqBp = 500, numPartitions = 2)
    val (reg, regRdd) = pinned(TagSubindexes.loadResident(spark, path))
    try {
      val q = emb.where($"vec_id" < 20)
        .select($"vec_id".cast("long"), $"embedding", $"label".cast("int"))
        .as[(Long, Array[Float], Int)].collect()
      val keys = q.map(_._3).distinct.filter(hot.contains).sorted.take(2)
      assert(keys.nonEmpty && keys.length < hot.length)
      val groups = q.filter(r => keys.contains(r._3)).groupBy(_._3.toString)
        .map { case (key, rs) => key -> rs.map(r => (r._1, r._2)) }
      val elements = spark.read.parquet(path)
        .where($"tag".isin(keys: _*)).select("tag", "part").distinct().count()
      var got = Array.empty[(Long, Long, Double, Long)]
      assertOneJob("tag registry", regRdd, elements.toInt)(jobsOf {
        got = reg.probeGroupsBatch(groups, k = 10, efSearch = 64)
      })
      assert(elements < reg.numElements)
      // the tree regime runs on every partition
      assert(got.toSeq ===
        reg.probeGroupsBatch(groups, k = 10, efSearch = 64, treeMergeAt = 1).toSeq)
    } finally reg.unload()
  }

  test("every graph loader pins exactly one graph per partition") {
    base.count()
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).resolve("idx").toString
    // id-hash graphs: one per built partition, whatever the parquet splits
    val fp = tmp("graft-place-flat")
    HnswKnn.buildAndSave(base, fp, numPartitions = 5)
    val (flat, flatRdd) = pinned(HnswKnn.loadResident(spark, fp))
    try assert(perPartition(flatRdd) === Seq.fill(5)(1), "HnswKnn")
    finally flat.unload()
    // routed graphs: one per cluster
    val rp = tmp("graft-place-routed")
    HnswRouted.buildAndSave(base, rp, c = 6, kmIters = 2)
    val clusters = spark.read.parquet(rp).select("part").distinct().count()
    val (routed, routedRdd) = pinned(HnswRouted.loadResident(spark, rp))
    try assert(perPartition(routedRdd) === Seq.fill(clusters.toInt)(1),
      "HnswRouted")
    finally routed.unload()
    // tag registry: one per (key, part)
    val tp = tmp("graft-place-tags")
    TagSubindexes.build(TagFilter.withTags(emb), tp, minFreqBp = 500,
      numPartitions = 2)
    val elements = spark.read.parquet(tp).select("tag", "part").distinct().count()
    val (reg, regRdd) = pinned(TagSubindexes.loadResident(spark, tp))
    try assert(perPartition(regRdd) === Seq.fill(elements.toInt)(1),
      "TagSubindexes")
    finally reg.unload()
  }
}
