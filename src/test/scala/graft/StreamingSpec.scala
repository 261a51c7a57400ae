package graft

import graft.operators.{Knn, Metric, Recall}
import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()
  lazy val source = emb.select($"vec_id".as("id"), $"embedding".as("vec")).cache()
  lazy val queries = emb.where($"vec_id" < 5)
    .select($"vec_id".as("qid"), $"embedding".as("qvec")).cache()

  test("runbook: search sees net effect of inserts and deletes at every checkpoint") {
    val exec = new RunbookExecutor(source, queries, k = 5, consolidateAt = 1000000)
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 100),
      RunbookStep("search"), // sees [0,100)
      RunbookStep("delete", 0, 50),
      RunbookStep("search"), // sees [50,100)
      RunbookStep("insert", 100, 200),
      RunbookStep("search") // sees [50,200)
    ))
    def truthOver(lo: Long, hi: Long) =
      Knn.knnJoin(queries, source.where($"id" >= lo && $"id" < hi), 5, Metric.L2)
    assert(Recall.mean(cps(1), truthOver(0, 100), 5) === 1.0)
    assert(Recall.mean(cps(3), truthOver(50, 100), 5) === 1.0)
    assert(Recall.mean(cps(5), truthOver(50, 200), 5) === 1.0)
    // deleted ids never appear after the delete step
    assert(cps(3).where($"id" < 50).count() === 0)
  }

  test("runbook graph mode: deletes served tombstone-aware, zero rebuilds") {
    // build → delete → probe: the persisted graph must serve the
    // post-delete checkpoint WITHOUT rebuild (DELETE_MARK semantics,
    // diskann-str.py:83-99) — deleted ids excluded in-traversal.
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-graph")
      .resolve("idx").toString
    val exec = new RunbookExecutor(source, queries, k = 5,
      consolidateAt = 1000000, graphPath = Some(gp))
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("search"), // builds the graph over [0,200)
      RunbookStep("delete", 0, 80),
      RunbookStep("search"), // same artifact + tombstones [0,80)
      RunbookStep("delete", 80, 120),
      RunbookStep("search"))) // same artifact, tombstones [0,120)
    assert(exec.graphBuilds === 1,
      s"deletes must not rebuild the graph (built ${exec.graphBuilds}x)")
    // tombstoned ids never surface
    assert(cps(3).where($"id" < 80).count() === 0)
    assert(cps(5).where($"id" < 120).count() === 0)
    // and the approximate probe still recalls the exact live-set answer
    def truthOver(lo: Long, hi: Long) =
      Knn.knnJoin(queries, source.where($"id" >= lo && $"id" < hi), 5, Metric.L2)
    assert(Recall.mean(cps(1), truthOver(0, 200), 5) >= 0.9)
    assert(Recall.mean(cps(3), truthOver(80, 200), 5) >= 0.9)
    assert(Recall.mean(cps(5), truthOver(120, 200), 5) >= 0.9)
  }

  test("runbook graph mode: insert after delete serves delta-resident, zero rebuilds") {
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-graph2")
      .resolve("idx").toString
    val exec = new RunbookExecutor(source, queries, k = 5,
      consolidateAt = 1000000, graphPath = Some(gp))
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 150),
      RunbookStep("search"), // build #1
      RunbookStep("delete", 0, 50),
      RunbookStep("insert", 0, 30), // re-insert: unmark tombstones, no rebuild
      RunbookStep("insert", 150, 180), // NEW ids: delta-resident, no rebuild
      RunbookStep("search"))) // generation #1 + tombstones [30,50) + delta
    assert(exec.graphBuilds === 1,
      s"in-cap inserts must not rebuild the graph (built ${exec.graphBuilds}x)")
    assert(cps(5).where($"id" >= 30 && $"id" < 50).count() === 0)
    val truth = Knn.knnJoin(queries,
      source.where(($"id" >= 0 && $"id" < 30) || ($"id" >= 50 && $"id" < 180)),
      5, Metric.L2)
    assert(Recall.mean(cps(5), truth, 5) >= 0.9)
  }

  test("runbook graph mode: delete then re-insert of a DELTA-resident id stays servable") {
    // post-build inserts live in the delta, not the graph. Deleting one and
    // re-inserting it must bring it back into the delta — treating the
    // tombstone as proof of graph residency (the old behavior) left the id
    // live but absent from graph, tombstones, AND delta: silently unservable
    // until the next rebuild.
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-graph5")
      .resolve("idx").toString
    // the re-inserted rows themselves are the queries: each must be its own
    // (distance-0) neighbor at the checkpoint, which fails outright if the
    // id is unservable
    val qs = source.where($"id" >= 150 && $"id" < 160)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val exec = new RunbookExecutor(source, qs, k = 5,
      consolidateAt = 1000000, graphPath = Some(gp))
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 150),
      RunbookStep("search"), // build #1 over [0,150)
      RunbookStep("insert", 150, 160), // delta-resident, never graph nodes
      RunbookStep("delete", 150, 160), // dropped from the delta, marked dead
      RunbookStep("insert", 150, 160), // re-insert: must RE-ENTER the delta
      RunbookStep("search")))
    assert(exec.graphBuilds === 1,
      s"this flow must serve without rebuild (built ${exec.graphBuilds}x)")
    val selfHits = cps(5).where($"id" === $"qid").select("qid")
      .as[Long].collect().toSet
    assert(selfHits === (150L until 160L).toSet,
      s"re-inserted ids unservable: missing ${(150L until 160L).toSet -- selfHits}")
    // and the deleted-but-not-reinserted twin flow still excludes them
    val exec2 = new RunbookExecutor(source, qs, k = 5,
      consolidateAt = 1000000, graphPath = Some(java.nio.file.Files
        .createTempDirectory("graft-rb-graph6").resolve("idx").toString))
    val cps2 = exec2.run(Seq(
      RunbookStep("insert", 0, 150),
      RunbookStep("search"),
      RunbookStep("insert", 150, 160),
      RunbookStep("delete", 150, 160),
      RunbookStep("search")))
    assert(cps2(4).where($"id" >= 150 && $"id" < 160).count() === 0)
  }

  test("runbook graph mode: a delete tripping consolidation rebuilds without marking ids") {
    // a corpus-sized delete must never fetch its tombstone ids to the
    // driver: when the delete trips the compaction threshold, the graph
    // goes stale and the next search rebuilds over the consolidated live
    // set instead
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-graph4")
      .resolve("idx").toString
    val exec = new RunbookExecutor(source, queries, k = 5,
      consolidateAt = 50, graphPath = Some(gp))
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("search"), // build #1
      RunbookStep("delete", 0, 120), // 120 >= consolidateAt: compacts
      RunbookStep("search"))) // build #2 over [120,200)
    assert(exec.graphBuilds === 2)
    assert(cps(3).where($"id" < 120).count() === 0)
    val truth = Knn.knnJoin(queries,
      source.where($"id" >= 120 && $"id" < 200), 5, Metric.L2)
    assert(Recall.mean(cps(3), truth, 5) >= 0.9)
  }

  test("runbook graph mode: delta overflow falls back to a rebuild (merge)") {
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-graph3")
      .resolve("idx").toString
    val exec = new RunbookExecutor(source, queries, k = 5,
      consolidateAt = 1000000, graphPath = Some(gp), deltaCap = 10)
    val cps = exec.run(Seq(
      RunbookStep("insert", 0, 100),
      RunbookStep("search"), // build #1
      RunbookStep("insert", 100, 108), // fits the cap: delta-resident
      RunbookStep("search"),
      RunbookStep("insert", 108, 200), // overflows: next search rebuilds
      RunbookStep("search")))
    assert(exec.graphBuilds === 2)
    def truthTo(hi: Long) =
      Knn.knnJoin(queries, source.where($"id" < hi), 5, Metric.L2)
    assert(Recall.mean(cps(3), truthTo(108), 5) >= 0.9)
    assert(Recall.mean(cps(5), truthTo(200), 5) >= 0.9)
  }

  test("resident-exact executor equals the kNN-dataflow executor checkpoint-for-checkpoint") {
    // overlapping inserts/deletes/re-inserts, a consolidation, and ranges
    // past the end of the corpus — the live-range mask must reproduce the
    // dataflow's liveIds semantics exactly on all of them
    val steps = Seq(
      RunbookStep("insert", 0, 250),
      RunbookStep("search"),
      RunbookStep("delete", 100, 400), // partly beyond the inserted range
      RunbookStep("search"),
      RunbookStep("insert", 150, 220), // re-insert inside the deleted span
      RunbookStep("search"),
      RunbookStep("delete", 0, 10),
      RunbookStep("insert", 240, 300), // straddles live and deleted ids
      RunbookStep("search"))
    val served = new RunbookExecutor(source, queries, 5, consolidateAt = 30)
      .run(steps)
    val dataflow = new RunbookExecutor(source, queries, 5, consolidateAt = 30,
      residentExact = false).run(steps)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    served.keys.foreach { cp => assert(rs(served(cp)) === rs(dataflow(cp)),
      s"checkpoint $cp diverged") }
  }

  test("liveRanges: net effect of an op log as disjoint sorted ranges") {
    import graft.streaming.Runbook.liveRanges
    assert(liveRanges(Seq(RunbookStep("insert", 0, 100))).toSeq ===
      Seq((0L, 100L)))
    assert(liveRanges(Seq(
      RunbookStep("insert", 0, 100), RunbookStep("delete", 20, 40))).toSeq ===
      Seq((0L, 20L), (40L, 100L)))
    // re-insert inside a deleted span, latest op wins
    assert(liveRanges(Seq(
      RunbookStep("insert", 0, 100), RunbookStep("delete", 20, 60),
      RunbookStep("insert", 30, 50))).toSeq ===
      Seq((0L, 20L), (30L, 50L), (60L, 100L)))
    // delete of never-inserted ids is a no-op; adjacent segments merge
    assert(liveRanges(Seq(
      RunbookStep("delete", 500, 600), RunbookStep("insert", 0, 50),
      RunbookStep("insert", 50, 80))).toSeq === Seq((0L, 80L)))
    assert(liveRanges(Seq(RunbookStep("insert", 0, 100),
      RunbookStep("delete", 0, 100))).toSeq === Seq.empty)
  }

  test("long random runbook: resident, dataflow, and stream executors agree on every checkpoint") {
    // 150 seeded-random ops with searches interleaved — deep log lineage
    // (the periodic localCheckpoint truncation kicks in), multiple
    // consolidations, overlapping re-inserts. All three execution forms
    // must produce identical checkpoints.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val steps = (0 until 150).map { i =>
      if (i % 10 == 9) RunbookStep("search")
      else {
        val a = rnd.nextInt(300); val b = rnd.nextInt(300)
        RunbookStep(if (rnd.nextBoolean()) "insert" else "delete",
          math.min(a, b), math.max(a, b) + 1)
      }
    }
    val served = new RunbookExecutor(source, queries, 5, consolidateAt = 40)
      .run(steps)
    val dataflow = new RunbookExecutor(source, queries, 5, consolidateAt = 40,
      residentExact = false).run(steps)
    val streamExec = new RunbookStreamExecutor(source, queries, 5,
      consolidateAt = 40)
    val ops = MemoryStream[(Int, String, Long, Long)]
    val q = ops.toDF().toDF("seq", "op", "start", "end")
      .writeStream.foreachBatch(streamExec.processBatch _)
      .outputMode("append").start()
    steps.zipWithIndex.grouped(40).foreach { g =>
      ops.addData(g.map { case (s, i) => (i, s.op, s.start, s.end) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(served.keySet === dataflow.keySet)
    assert(streamExec.checkpoints.keySet === served.keySet)
    served.keys.foreach { cp =>
      assert(rs(served(cp)) === rs(dataflow(cp)), s"dataflow diverged at $cp")
      assert(rs(streamExec.checkpoints(cp)) === rs(served(cp)),
        s"stream diverged at $cp")
    }
    streamExec.close()
  }

  test("reference delete_runbook replays end-to-end, mean recall >= 0.9 (sf0.1)") {
    // BASELINE row 4 at reduced scale: interleaved inserts/deletes with
    // max_pts-triggered consolidations, ranges scaled into the sf0.1 id
    // space, every checkpoint graded against the exact live-set kNN.
    val yaml = Runbook.fixture("delete_runbook.yaml")
    // the BASELINE row-4 unit: msturing-10M-clustered, 32 inserts /
    // 10 deletes / 33 searches, max_pts 6M (reference reports 0.924)
    val rb0 = Runbook.parseYaml(yaml)
      .find(_.dataset == "msturing-10M-clustered").get
    val src01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select($"vec_id".as("id"), $"embedding".as("vec")).cache()
    val q01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec")).cache()
    val rb = Runbook.scaled(rb0, src01.count())
    val graded = RunbookReplay.graded(src01, q01, rb, k = 10, efSearch = 128)
      .cache()
    assert(graded.count() === rb.steps.count(_.op == "search"))
    val mean = graded.agg(avg($"recall_bp")).head().getDouble(0) / 10000.0
    assert(mean >= 0.9, s"mean replay recall $mean")
    src01.unpersist(); q01.unpersist()
  }

  test("reference simple_runbook (msturing-1M) replays graded, recall >= 0.9 (sf0.1)") {
    // BASELINE rows 5/6: the insert → search → delete-half → search →
    // re-insert → search pattern (reference reports 0.958 at Ls=100 on
    // msturing-1M). Scaled into the sf0.1 id space and graded at every
    // checkpoint against the exact live-set kNN.
    val yaml = Runbook.fixture("simple_runbook.yaml")
    val src01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select($"vec_id".as("id"), $"embedding".as("vec")).cache()
    val q01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec")).cache()
    val rb = Runbook.scaled(
      Runbook.parseYaml(yaml).find(_.dataset == "msturing-1M").get,
      src01.count())
    val graded = RunbookReplay.graded(src01, q01, rb, k = 10, efSearch = 128)
      .cache()
    assert(graded.count() === rb.steps.count(_.op == "search"))
    val mean = graded.agg(avg($"recall_bp")).head().getDouble(0) / 10000.0
    assert(mean >= 0.9, s"mean simple-replay recall $mean")
    src01.unpersist(); q01.unpersist()
  }

  test("reference clustered_runbook (insert-only growth) replays with few rebuilds (sf0.1)") {
    // the reference's pure-growth runbook (random-xs-clustered doc: 32
    // insert→search cycles, no deletes). Delta-resident serving must
    // absorb most inserts — rebuilds only on delta overflow — while every
    // checkpoint still recalls the exact live-set kNN.
    val yaml = Runbook.fixture("clustered_runbook.yaml")
    val src01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select($"vec_id".as("id"), $"embedding".as("vec")).cache()
    val q01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec")).cache()
    val rb = Runbook.scaled(Runbook.parseYaml(yaml).head, src01.count())
    val inserts = rb.steps.count(_.op == "insert")
    val gp = java.nio.file.Files.createTempDirectory("graft-rb-clustered")
      .resolve("idx").toString
    val graphExec = new RunbookExecutor(src01, q01, k = 10,
      consolidateAt = 1000, rb.maxPts, Some(gp), efSearch = 128)
    val truthExec = new RunbookExecutor(src01, q01, k = 10,
      consolidateAt = 1000, rb.maxPts)
    val got = graphExec.run(rb.steps)
    val truth = truthExec.run(rb.steps)
    assert(graphExec.graphBuilds * 4 <= inserts,
      s"delta serving should absorb most of $inserts inserts, " +
        s"but the graph rebuilt ${graphExec.graphBuilds}x")
    val mean = got.keys.toSeq
      .map(cp => Recall.mean(got(cp), truth(cp), 10)).sum / got.size
    assert(mean >= 0.9, s"mean clustered-replay recall $mean")
    src01.unpersist(); q01.unpersist()
  }

  test("runbook: consolidation does not change results") {
    val steps = Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("delete", 0, 120),
      RunbookStep("search"))
    val lazily = new RunbookExecutor(source, queries, 5, consolidateAt = 1000000)
      .run(steps)(2).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val eagerly = new RunbookExecutor(source, queries, 5, consolidateAt = 1)
      .run(steps)(2).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(lazily === eagerly)
  }

  test("runbook: max_pts-keyed consolidation preserves checkpoint results") {
    val steps = Seq(
      RunbookStep("insert", 0, 150),
      RunbookStep("delete", 0, 100),
      RunbookStep("insert", 200, 300), // log would hold 250 rows > maxPts=200
      RunbookStep("search"))
    val unbounded = new RunbookExecutor(source, queries, 5, consolidateAt = 1000000)
      .run(steps)(3).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val bounded = new RunbookExecutor(source, queries, 5,
      consolidateAt = 1000000, maxPts = 200)
      .run(steps)(3).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(bounded === unbounded)
    // live set is [100,150) ∪ [200,300)
    val expect = Knn.knnJoin(queries,
      source.where(($"id" >= 100 && $"id" < 150) || ($"id" >= 200 && $"id" < 300)),
      5, Metric.L2).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(bounded === expect)
  }

  test("runbook: re-insert after delete makes ids live again (reference semantics)") {
    val emb = Tables.embeddings(spark, sfDir)
    val source = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // simple_runbook.yaml shape: insert all, delete half, re-insert that half
    val steps = Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("delete", 0, 100),
      RunbookStep("insert", 0, 100),
      RunbookStep("search"))
    val got = new RunbookExecutor(source, queries, 5, consolidateAt = 1000000)
      .run(steps)(3).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    val expect = Knn.knnJoin(queries, source.where($"id" < 200), 5, Metric.L2)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(got === expect)
    // and with consolidation in the middle
    val got2 = new RunbookExecutor(source, queries, 5, consolidateAt = 1)
      .run(steps)(3).select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(got2 === expect)
  }

  test("foreachBatch runbook stream matches the batch executor checkpoint-for-checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val source = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val steps = Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("search"),
      RunbookStep("delete", 0, 100),
      RunbookStep("insert", 0, 50),
      RunbookStep("search"))

    val batchResults = new RunbookExecutor(source, queries, 5).run(steps)

    val exec = new RunbookStreamExecutor(source, queries, 5)
    val ops = MemoryStream[(Int, String, Long, Long)]
    val q = ops.toDF().toDF("seq", "op", "start", "end")
      .writeStream.foreachBatch(exec.processBatch _)
      .outputMode("append").start()
    // two micro-batches split mid-runbook
    ops.addData(steps.zipWithIndex.take(3).map { case (s, i) => (i, s.op, s.start, s.end) }: _*)
    q.processAllAvailable()
    ops.addData(steps.zipWithIndex.drop(3).map { case (s, i) => (i, s.op, s.start, s.end) }: _*)
    q.processAllAvailable()
    q.stop()

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(exec.checkpoints.keySet === batchResults.keySet)
    batchResults.foreach { case (i, df) =>
      assert(ids(exec.checkpoints(i)) === ids(df), s"checkpoint $i differs")
    }
    // restart semantics: redelivering the LAST micro-batch (same batchId,
    // as foreachBatch does after a failure) is an idempotent no-op —
    // state and checkpoints unchanged
    val before = exec.checkpoints.view.mapValues(ids).toMap
    exec.processBatch(steps.zipWithIndex.drop(3)
      .map { case (s, i) => (i, s.op, s.start, s.end) }
      .toDF("seq", "op", "start", "end"), 1L)
    assert(exec.checkpoints.view.mapValues(ids).toMap === before)
    exec.close()
    // but an old op arriving any other way — a REGRESSED batchId (a new
    // stream reusing this executor) or a genuinely new batch — is a
    // protocol violation, not a silent history rewrite
    assertThrows[IllegalArgumentException] {
      exec.processBatch(Seq((0, "insert", 0L, 10L))
        .toDF("seq", "op", "start", "end"), 0L)
    }
    assertThrows[IllegalArgumentException] {
      exec.processBatch(Seq((0, "insert", 0L, 10L))
        .toDF("seq", "op", "start", "end"), 99L)
    }
  }

  test("foreachBatch stream in GRAPH mode equals the batch graph executor") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq(
      RunbookStep("insert", 0, 200),
      RunbookStep("search"),
      RunbookStep("delete", 0, 80),
      RunbookStep("search"))
    def gp() = java.nio.file.Files.createTempDirectory("graft-rb-sg")
      .resolve("idx").toString
    // deterministic builds ⇒ the stream and batch graph paths return the
    // same rows at every checkpoint, and deletes rebuild neither
    val batchExec = new RunbookExecutor(source, queries, 5,
      consolidateAt = 1000000, graphPath = Some(gp()))
    val batchResults = batchExec.run(steps)

    val streamExec = new RunbookStreamExecutor(source, queries, 5,
      consolidateAt = 1000000, graphPath = Some(gp()))
    val ops = MemoryStream[(Int, String, Long, Long)]
    val q = ops.toDF().toDF("seq", "op", "start", "end")
      .writeStream.foreachBatch(streamExec.processBatch _)
      .outputMode("append").start()
    ops.addData(steps.zipWithIndex.map { case (s, i) => (i, s.op, s.start, s.end) }: _*)
    q.processAllAvailable()
    q.stop()

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(streamExec.checkpoints.keySet === batchResults.keySet)
    batchResults.foreach { case (i, df) =>
      assert(ids(streamExec.checkpoints(i)) === ids(df), s"checkpoint $i differs")
    }
    streamExec.close()
  }

  test("funnel: earliest-chain semantics on handcrafted users; flags monotone on the corpus") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val hand = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "purchase", ts(3)),
      (3L, "view", ts(1)),
      (4L, "purchase", ts(1))).toDF("user_id", "event_type", "ts")
    val f = StreamingOps.funnel(hand, Seq("view", "click", "purchase"))
      .select("user_id", "reached_view", "reached_click", "reached_purchase")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(f(1L) === ((1L, 1, 1, 1)))
    // user 2's only click precedes their first view → chain broken, even
    // though a purchase follows both
    assert(f(2L) === ((2L, 1, 0, 0)))
    assert(f(3L) === ((3L, 1, 0, 0)))
    assert(f(4L) === ((4L, 0, 0, 0)))
    // corpus invariant: a reached step implies every earlier step
    val c = StreamingOps.funnel(Tables.events(spark, sfDir),
      Seq("view", "click", "purchase")).cache()
    assert(c.where($"reached_click" === 1 && $"reached_view" === 0).count() === 0)
    assert(c.where($"reached_purchase" === 1 && $"reached_click" === 0).count() === 0)
    assert(c.select("user_id").distinct().count() === c.count())
    c.unpersist()
  }

  test("streaming exact dedup equals the batch canonical set across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", md5($"text").as("fp"))
      .as[StreamingDedup.DocIn].collect().sortBy(_.doc_id)
    val in = MemoryStream[StreamingDedup.DocIn]
    val kept = scala.collection.mutable.Set[(Long, String)]()
    val q = StreamingDedup.firstOccurrenceStream(in.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.DocKept], _: Long) =>
        kept ++= b.collect().map(d => (d.doc_id, d.fp)); ()
      }
      .start()
    // three micro-batches in id order, with copies of batch-1 docs
    // re-arriving under fresh ids in batch 3 — a duplicate arriving in a
    // LATER batch than its canonical must be dropped by state, not
    // batch-local grouping
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val lateDups = b1.take(20).map(d => d.copy(doc_id = d.doc_id + 10000))
    Seq(b1, b2, b3 ++ lateDups).foreach { b =>
      in.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    // ground truth: the batch operator over the SAME union (original +
    // late copies); min-id canonical = the original docs
    val union = docs ++ lateDups
    val expected = graft.operators.Dedup.exactDedup(
      union.toSeq.toDF("doc_id", "fp").withColumnRenamed("fp", "text"))
      .where($"is_dup" === 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.map(_._1).toSet === expected)
    // every late copy was dropped, nothing original was
    assert(kept.size === docs.length)
    assert(lateDups.forall(d => !kept.exists(_._1 == d.doc_id)))
  }

  test("streaming LSH candidate generation matches the batch band self-join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).limit(120)
    val mh = graft.operators.Dedup.minhash(docs, n = 3, numSeeds = 8)
    val bands = graft.operators.Dedup.lshBands(mh, rowsPerBand = 2)
      .select($"doc_id".cast("long"), $"band".cast("int"), $"bkey")
      .as[(Long, Int, String)].collect()
      .map { case (d, b, k) => StreamingDedup.BandIn(d, b, k) }
    // batch truth: the distinct co-bucket pair set (what minhashLsh's
    // band self-join produces before verification)
    val expected = bands.groupBy(b => (b.band, b.bkey)).values.flatMap { ms =>
      val ids = ms.map(_.doc_id).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet
    assert(expected.nonEmpty) // sf0.001 documents contain near-dups
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val in = MemoryStream[StreamingDedup.BandIn]
    val q = StreamingDedup.lshCandidateStream(in.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.CandPair], _: Long) =>
        got ++= b.collect().map(p => (p.a_id, p.b_id)); ()
      }
      .start()
    // split ACROSS micro-batches so cross-batch pairs must come from state,
    // not batch-local grouping
    val (b1, b2) = bands.splitAt(bands.length / 2)
    Seq(b1, b2).foreach { b => in.addData(b.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    assert(got.toSet === expected)
  }

  test("streaming LSH maxBucket cap saturates hot buckets, leaves cold ones exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one boilerplate bucket everyone shares + one small genuine bucket
    val hot = (1L to 10L).map(id => StreamingDedup.BandIn(id, 0, "boiler"))
    val cold = Seq(StreamingDedup.BandIn(100L, 1, "rare"),
      StreamingDedup.BandIn(101L, 1, "rare"))
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val in = MemoryStream[StreamingDedup.BandIn]
    val q = StreamingDedup.lshCandidateStream(in.toDS(), maxBucket = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.CandPair], _: Long) =>
        got ++= b.collect().map(p => (p.a_id, p.b_id)); ()
      }
      .start()
    // split across micro-batches so saturation must come from STATE
    in.addData(hot.take(2) ++ cold); q.processAllAvailable()
    in.addData(hot.drop(2)); q.processAllAvailable()
    q.stop()
    // cold bucket is exact; hot bucket emitted only its first 3 members'
    // pairs (C(3,2) = 3), then saturated — state growth and emission both
    // stop at the cap
    val hotPairs = got.filter(_._1 <= 10L)
    assert(got((100L, 101L)))
    assert(hotPairs.size === 3, s"got $hotPairs")
    assert(hotPairs.forall { case (a, b) => a <= 3 && b <= 3 })
  }

  test("runbook YAML parser handles the reference's format") {
    val yaml =
      """tiny-ds:
        |  max_pts: 10000
        |  1:
        |    operation: "insert"
        |    start: 0
        |    end: 10000
        |  2:
        |    operation: "search"
        |  3:
        |    operation: "delete"
        |    start: 0
        |    end: 5000
        |  4:
        |    operation: "search"
        |  5:
        |    operation: "insert"   # re-insert deleted range
        |    start: 0
        |    end: 5000
        |  6:
        |    operation: "search"
        |  gt_url: "https://example.invalid/gt"
        |second-ds:
        |  max_pts: 7
        |  1:
        |    operation: "search"
        |""".stripMargin
    val books = Runbook.parseYaml(yaml)
    assert(books.map(_.dataset) === Seq("tiny-ds", "second-ds"))
    assert(books.head.maxPts === 10000L)
    assert(books.head.steps === Seq(
      RunbookStep("insert", 0, 10000), RunbookStep("search"),
      RunbookStep("delete", 0, 5000), RunbookStep("search"),
      RunbookStep("insert", 0, 5000), RunbookStep("search")))
    assert(books(1).steps === Seq(RunbookStep("search")))
  }

  test("YAML parser ingests the reference's own runbook files verbatim") {
    // format-compatibility proof against the real artifacts; skipped when
    // the reference checkout is absent (the library itself stays standalone)
    val dir = new java.io.File("/root/reference/streaming")
    assume(dir.isDirectory, "reference checkout not present")
    val files = Seq("simple_runbook.yaml", "clustered_runbook.yaml", "delete_runbook.yaml")
      .map(f => new java.io.File(dir, f)).filter(_.isFile)
    assume(files.nonEmpty)
    files.foreach { f =>
      val books = Runbook.parseYaml(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      assert(books.nonEmpty, f.getName)
      books.foreach { b =>
        assert(b.maxPts > 0, s"${f.getName}/${b.dataset} max_pts")
        assert(b.steps.nonEmpty, s"${f.getName}/${b.dataset} steps")
        // the reference's complete op vocabulary — all executable by
        // RunbookExecutor (re-insert-after-delete covers "replace" flows)
        assert(b.steps.forall(s => Set("insert", "delete", "search")(s.op)),
          s"${f.getName}/${b.dataset} ops: ${b.steps.map(_.op).distinct}")
        // every insert/delete carries a sane [start, end) range
        b.steps.filter(s => s.op == "insert" || s.op == "delete").foreach { s =>
          assert(s.start >= 0 && s.end > s.start, s"${f.getName}/${b.dataset}: $s")
        }
      }
    }
    // the simple runbook's first dataset is the documented random-xs shape
    val simple = Runbook.parseYaml(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "simple_runbook.yaml").toPath), "UTF-8"))
    val xs = simple.find(_.dataset == "random-xs").get
    assert(xs.maxPts === 10000L)
    assert(xs.steps.take(3) === Seq(
      RunbookStep("insert", 0, 10000), RunbookStep("search"),
      RunbookStep("delete", 0, 5000)))
  }

  test("streaming tumbling windows equal the batch aggregation (availableNow)") {
    val events = Tables.events(spark, sfDir)
    val batch = StreamingOps.eventsTumbling(events)
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long, Long)]
      .collect().toSet

    // file stream sources require a directory: stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = StreamingOps.eventsTumblingStream(spark, dir.toString)
    val q = streamed.writeStream
      .format("memory").queryName("ev_tumbling")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("ev_tumbling")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long, Long)]
      .collect().toSet
    assert(got === batch)
  }

  test("stateful streaming sessionization agrees with the batch window form") {
    import graft.streaming.Sessionize
    val events = Tables.events(spark, sfDir)
    val batch = Sessionize.sessions(events, gapMinutes = 30)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_sessions_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(dir.toString).schema
    val raw = spark.readStream.schema(rawSchema).parquet(dir.toString)
    val src = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }).select("user_id", "ts").as[Sessionize.SessionEvent]
    val q = Sessionize.sessionsStream(src, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sess")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet

    // sessions still open at end-of-stream never see the watermark pass, so
    // the streamed set is a subset; every emitted session must match the
    // batch computation exactly
    assert(streamed.nonEmpty, "no sessions emitted")
    assert(streamed.subsetOf(batch),
      s"streamed sessions disagree with batch: ${streamed.diff(batch).take(3)}")
    // and it must be MOST of them at this data shape (only the last session
    // per user can be withheld)
    val users = events.select("user_id").distinct().count()
    assert(streamed.size >= batch.size - users)
  }

  test("sliding windows: each event lands in exactly windowLen/slide windows") {
    val events = Tables.events(spark, sfDir)
    val slid = StreamingOps.eventsSliding(events, "2 hours", "1 hour")
    val totalSlid = slid.agg(sum("n_events")).as[Long].head()
    assert(totalSlid === 2 * events.count())
  }
}
