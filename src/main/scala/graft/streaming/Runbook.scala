package graft.streaming

import graft.operators.{Knn, Metric}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One step of a streaming runbook: `insert` / `delete` over the id range
  * [start, end), or `search` (a grading checkpoint). Mirrors the reference's
  * YAML runbooks (/root/reference/streaming/simple_runbook.yaml:1-21,
  * streaming/run.py:36-58). */
final case class RunbookStep(op: String, start: Long = 0L, end: Long = 0L)

/** A parsed runbook: dataset name, live-point bound, ordered steps. */
final case class Runbook(dataset: String, maxPts: Long, steps: Seq[RunbookStep])

object Runbook {

  /** Parse the reference's runbook YAML format (S9). The format is a
    * restricted, regular YAML subset (see simple_runbook.yaml): top-level
    * dataset keys, then `max_pts`, numbered step maps with
    * operation/start/end, and an ignorable `gt_url` — a small line-based
    * parser covers it with no YAML dependency. Returns one Runbook per
    * dataset, in file order. */
  def parseYaml(text: String): Seq[Runbook] = {
    val books = Seq.newBuilder[Runbook]
    var dataset: String = null
    var maxPts = 0L
    var steps = scala.collection.mutable.SortedMap.empty[Int, scala.collection.mutable.Map[String, String]]
    var curStep: Int = -1

    def flush(): Unit = if (dataset != null) {
      books += Runbook(dataset, maxPts,
        steps.values.toSeq.map { m =>
          RunbookStep(m("operation"),
            m.getOrElse("start", "0").toLong, m.getOrElse("end", "0").toLong)
        })
      dataset = null; maxPts = 0L
      steps = scala.collection.mutable.SortedMap.empty; curStep = -1
    }

    def unquote(s: String) = s.trim.stripPrefix("\"").stripSuffix("\"")

    text.linesIterator.foreach { raw =>
      val line = raw.replaceAll("#.*$", "") // strip comments
      if (line.trim.nonEmpty) {
        val indent = line.takeWhile(_ == ' ').length
        val Array(k, v @ _*) = line.trim.split(":", 2).map(_.trim): @unchecked
        val value = if (v.nonEmpty) v.head else ""
        if (indent == 0) { flush(); dataset = k }
        else if (indent == 2 && k == "max_pts") maxPts = value.toLong
        else if (indent == 2 && k.forall(_.isDigit)) {
          curStep = k.toInt
          steps(curStep) = scala.collection.mutable.Map.empty
        } else if (indent >= 4 && curStep >= 0 && value.nonEmpty) {
          steps(curStep)(k) = unquote(value)
        }
      }
    }
    flush()
    books.result()
  }

  /** The YAML text of a runbook fixture on the classpath under
    * `graft/runbooks/` (`simple_runbook.yaml`, `delete_runbook.yaml`,
    * `clustered_runbook.yaml`): files in the reference's format and of its
    * documented shapes, not its bytes — each file's header says where its
    * numbers come from. A missing file throws naming it. */
  def fixture(name: String): String = {
    val path = s"graft/runbooks/$name"
    val in = Option(getClass.getClassLoader.getResourceAsStream(path))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"runbook fixture $path is not on the classpath"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The live set as DISJOINT SORTED id ranges, from a sequence-ordered
    * insert/delete op prefix: an id is live iff the latest op covering it
    * is an insert. Because ops are RANGES, the live set compresses to at
    * most 2·|ops| boundary segments regardless of corpus size — an O(#ops)
    * driver computation and a broadcast-sized mask even when the live set
    * itself is billions of rows. This is what lets an exact executor serve
    * checkpoints from resident shards: the mask travels, the corpus
    * doesn't. */
  def liveRanges(ops: Seq[RunbookStep]): Array[(Long, Long)] = {
    val ranged = ops.filter(s => s.op == "insert" || s.op == "delete")
    val bounds = ranged.flatMap(s => Seq(s.start, s.end)).distinct.sorted.toArray
    val nSeg = math.max(bounds.length - 1, 0)
    // adjacent boundaries ⇒ every op either fully covers a segment or
    // misses it; the LAST covering op in sequence order decides liveness.
    // Reverse paint with union-find skip pointers: walk ops latest-first,
    // painting only still-unpainted segments in each op's boundary span and
    // jumping over painted runs — O(#ops · α), not a reverse scan per
    // segment (which made a delete-heavy interval's consolidation sweep
    // quadratic in the op count).
    val segLive = new Array[Byte](nSeg) // 0 undecided, 1 live, 2 dead
    val next = Array.tabulate(nSeg + 1)(identity) // next undecided ≥ i
    def findNext(i: Int): Int = {
      var r = i
      while (next(r) != r) r = next(r)
      var c = i
      while (next(c) != r) { val t = next(c); next(c) = r; c = t } // path halving
      r
    }
    var painted = 0
    var oi = ranged.length - 1
    while (oi >= 0 && painted < nSeg) {
      val op = ranged(oi)
      var si = java.util.Arrays.binarySearch(bounds, op.start) // exact: a boundary
      val endSeg = java.util.Arrays.binarySearch(bounds, op.end)
      si = findNext(si)
      while (si < endSeg) {
        segLive(si) = if (op.op == "insert") 1 else 2
        painted += 1
        next(si) = si + 1
        si = findNext(si + 1)
      }
      oi -= 1
    }
    val live = Array.newBuilder[(Long, Long)]
    var curStart = -1L
    var curEnd = -1L
    var bi = 0
    while (bi < nSeg) {
      if (segLive(bi) == 1) {
        val lo = bounds(bi); val hi = bounds(bi + 1)
        if (curEnd == lo) curEnd = hi // extend the open segment
        else {
          if (curStart >= 0) live += ((curStart, curEnd))
          curStart = lo; curEnd = hi
        }
      }
      bi += 1
    }
    if (curStart >= 0) live += ((curStart, curEnd))
    live.result()
  }

  /** Rescale a runbook's id ranges into [0, n): every boundary maps to
    * floor(b · n / maxEnd). The reference's runbooks address dataset-sized
    * id spaces (random-xs ~8k, msturing 10M); replaying them against a
    * smaller table keeps the exact insert/delete/search INTERLEAVING and
    * relative range widths — the properties the recall grade measures —
    * while touching ids that exist. maxPts scales identically so the
    * occupancy-triggered consolidations fire at the same relative points. */
  def scaled(rb: Runbook, n: Long): Runbook = {
    val maxEnd = math.max(rb.steps.map(_.end).max, 1L)
    def m(x: Long) = x * n / maxEnd
    Runbook(rb.dataset, math.max(m(rb.maxPts), 1L), rb.steps.map { s =>
      if (s.op == "search") s else RunbookStep(s.op, m(s.start), m(s.end))
    })
  }
}

/** End-to-end graded replay of a (reference) runbook: run every step in
  * GRAPH mode (persisted HNSW + tombstone-aware probes) and grade each
  * search checkpoint against the exact live-set kNN — the reference's
  * streaming-track protocol (streaming/run.py + recall grading,
  * BASELINE row 4; the reference reports recall@10 ≈ 0.92 for the
  * msturing delete runbook). */
object RunbookReplay {

  /** Returns one row per search checkpoint: (checkpoint, recall_bp). */
  def graded(source: DataFrame, queries: DataFrame, rb: Runbook,
             k: Int = 10, efSearch: Int = 128,
             consolidateAt: Long = 1000L, deltaCap: Long = 512L): DataFrame =
    gradedTimed(source, queries, rb, k, efSearch, consolidateAt, deltaCap)._1

  /** [[graded]] with the SERVING wall separated from the grading wall:
    * returns (checkpoint recalls, serveSec, gradeSec). The baseline's
    * streaming wall is serving-only — its ground truth is precomputed
    * (delete_runbook.yaml's gt_url) — so a comparable artifact must time
    * the graph executor alone and pay the exact-truth execution outside
    * the window (the r11 artifact timed both inside one window, doubling
    * the reported wall). `numPartitions` sizes the graph builds and the
    * exact executor's resident scan — the rebuild cadence makes build
    * parallelism the serving wall's dominant term at scale. */
  def gradedTimed(source: DataFrame, queries: DataFrame, rb: Runbook,
                  k: Int = 10, efSearch: Int = 128,
                  consolidateAt: Long = 1000L, deltaCap: Long = 512L,
                  numPartitions: Int = 8): (DataFrame, Double, Double) = {
    val spark = source.sparkSession
    import spark.implicits._
    val gp = java.nio.file.Files.createTempDirectory("graft-replay")
      .resolve("idx").toString
    val graphExec = new RunbookExecutor(source, queries, k, consolidateAt,
      rb.maxPts, Some(gp), efSearch, deltaCap,
      numPartitions = numPartitions)
    val exactExec = new RunbookExecutor(source, queries, k, consolidateAt,
      rb.maxPts, numPartitions = numPartitions)
    val t0 = System.nanoTime()
    val got = graphExec.run(rb.steps)
    val serveSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val truth = exactExec.run(rb.steps)
    val df = got.keys.toSeq.sorted.map { cp =>
      (cp, math.round(graft.operators.Recall.mean(got(cp), truth(cp), k) * 10000))
    }.toDF("checkpoint", "recall_bp")
    val rows = df.localCheckpoint() // grade eagerly inside the grading wall
    val gradeSec = (System.nanoTime() - t1) / 1e9
    (rows, serveSec, gradeSec)
  }
}

/** Structured Streaming form of the runbook executor: the op log arrives as
  * an unbounded stream of (seq, op, start, end) rows and foreachBatch applies
  * each micro-batch's ops INCREMENTALLY, in sequence order, against the same
  * sequence-numbered live-set state as [[RunbookExecutor]] — each op is paid
  * exactly once, never replayed, so per-batch cost is independent of stream
  * length. This is the SURVEY §2.9 mapping ("Structured Streaming
  * foreachBatch over the op log") — the batch executor and this stream
  * produce identical checkpoint results (StreamingSpec proves it on a shared
  * runbook).
  *
  * State lives in DataFrames keyed by the executor exactly as in batch mode;
  * at scale the inserted/tombstone logs would be Delta-style tables and
  * `consolidate` a compaction job — the dataflow is unchanged. */
final class RunbookStreamExecutor(
    source: DataFrame,
    queries: DataFrame,
    k: Int = 10,
    consolidateAt: Long = 1000L,
    maxPts: Long = Long.MaxValue,
    graphPath: Option[String] = None, // serve searches from persisted HNSW
    efSearch: Int = 128,
    deltaCap: Long = 512L) {

  private val inner = new RunbookExecutor(source, queries, k, consolidateAt,
    maxPts, graphPath, efSearch, deltaCap)
  private var lastSeq = Int.MinValue
  private var lastBatchId = Long.MinValue

  /** foreachBatch sink function: feed micro-batches of op rows
    * (seq INT, op STRING, start LONG, end LONG). Each op is applied against
    * the executor state EXACTLY ONCE, in sequence order — incremental, no
    * replay of the historical log, so a long-running stream's per-batch
    * cost depends on the batch, not on how much history precedes it. Ops
    * within a micro-batch may arrive unordered (they sort here).
    *
    * Restart semantics: after a failure Structured Streaming REDELIVERS
    * the in-flight micro-batch under the SAME batchId; exactly that batch
    * (batchId == the last one seen) may skip its already-applied ops — the
    * idempotency foreachBatch sinks must provide. Anything else that
    * carries an op older than one already applied — a batchId that went
    * BACKWARDS (e.g. a new stream reusing this executor), or a genuinely
    * new batch with an old seq — is op-log corruption: it cannot be
    * applied retroactively to mutable state and raises rather than
    * silently serving the previous log's checkpoints. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val redelivery = batchId == lastBatchId
    lastBatchId = math.max(lastBatchId, batchId)
    val steps = batch.select("seq", "op", "start", "end")
      .collect()
      .map(r => (r.getInt(0), RunbookStep(r.getString(1), r.getLong(2), r.getLong(3))))
      .sortBy(_._1)
    steps.foreach { case (seq, st) =>
      if (seq <= lastSeq) {
        require(redelivery,
          s"op $seq arrived after op $lastSeq was already applied — the op " +
            "log must reach foreachBatch in sequence order across micro-batches")
        // already applied before the failure; state reflects it — skip
      } else {
        inner.applyStep(st, seq)
        lastSeq = seq
      }
    }
  }

  /** Checkpoint results keyed by runbook seq (eager, by-value — safe to
    * read while the stream continues). */
  def checkpoints: Map[Int, DataFrame] = inner.checkpointResults

  /** Release the executor's resident structures once the stream is done. */
  def close(): Unit = inner.finish()
}

/** Sequential-consistency executor for insert/delete/search op logs over a
  * mutable vector collection (the reference's streaming track,
  * /root/reference/streaming/base.py:9-31).
  *
  * State model — the Spark-native translation of DiskANN-dynamic's
  * lazy-delete design (/root/reference/streaming/diskann/diskann-str.py:
  * 60-99):
  *  - inserts and deletes accumulate as SEQUENCE-NUMBERED id-range sets;
  *    an id is live iff its latest op is an insert. This makes
  *    re-insert-after-delete correct — the reference's runbooks do exactly
  *    that (simple_runbook.yaml steps 3/5 delete then re-insert [0, n/2));
  *  - deletes are lazy TOMBSTONES applied at read time (`mark_deleted`);
  *  - compaction (`consolidate_delete`) triggers on EITHER of the
  *    reference's conditions: the tombstone count reaching `consolidateAt`,
  *    or an insert that would push the op-log occupancy (live + pending
  *    rows) past `maxPts` (diskann-str.py:90-93 consolidates exactly when
  *    the next batch would overflow max_pts). Both counters track ACTUAL
  *    affected rows — ids never inserted or already deleted don't count —
  *    so compaction cost behavior matches the documented policy. This
  *    bounds anti-join cost and lineage depth.
  *
  * Every search checkpoint sees exactly the net effect of all prior ops. */
final class RunbookExecutor(
    source: DataFrame, // (id, vec) — immutable base the ranges index into
    queries: DataFrame, // (qid, qvec)
    k: Int = 10,
    consolidateAt: Long = 1000L,
    maxPts: Long = Long.MaxValue,
    graphPath: Option[String] = None, // serve searches from a persisted HNSW
    efSearch: Int = 128,
    deltaCap: Long = 512L, // graph mode: max rows served delta-resident
    residentExact: Boolean = true, // exact mode: serve from pinned shards
    // shard count for graph rebuilds and the exact mode's resident scan:
    // rebuilds dominate a scaled replay's wall, and each partition's HNSW
    // builds independently, so this is the serving wall's parallelism axis
    // (the default keeps every existing caller's results byte-identical)
    numPartitions: Int = 8) {

  /** Number of graph artifact (re)builds — deletes alone must never bump
    * this (tombstone-aware probes serve post-delete without rebuild), and
    * neither must inserts that fit the delta buffer (delta-resident
    * serving); both asserted in StreamingSpec. */
  var graphBuilds: Int = 0

  private val spark = source.sparkSession
  import spark.implicits._

  // --- mutable executor state, shared by [[run]] (batch: reset → apply all
  // → finish) and the incremental path ([[applyStep]] per op as it arrives
  // from a stream, [[finish]] on close) ---
  private var inserted: DataFrame = _
  private var insertedLogRows = 0L // rows in the insert log (live + pending dupes)
  private var tombstones: DataFrame = _
  // ops appended since the last lineage truncation: every op unions one
  // more frame onto a log, and over a long stream the union DEPTH (not the
  // data) makes each downstream job's planning cost grow with history —
  // a periodic localCheckpoint pins the rows and cuts the plan back to a
  // leaf, keeping per-op cost flat (the log tables stay small; liveness
  // truth is unchanged, asserted by the long-runbook stress spec)
  private var opsSinceTruncate = 0
  private var nTombstones = 0L
  private var graphFresh = false // graph artifact covers the current live∪tomb set
  private var graphTomb = Set.empty[Long] // GRAPH NODES deleted since the last build
  // the current generation's node-id set, as the live ranges at build time:
  // an O(#ops) compressed form (see [[Runbook.liveRanges]]) that stays
  // driver-sized even when the graph holds billions of nodes. Membership
  // here — not tombstone membership — decides whether a re-inserted id's
  // vector lives in the graph (unmark and skip the delta) or must re-enter
  // the delta buffer: a delta-only id that was deleted and re-inserted is
  // NOT graph-resident, and treating it as such left it live but
  // unservable until the next rebuild.
  private var graphRanges: Array[(Long, Long)] = Array.empty
  // rows inserted since the last graph build, served by exact scan merged
  // with the graph probe (FreshDiskANN's built-index + mutable-delta
  // split, the reference's insert-in-place economics without mutating a
  // shared graph): bounded by deltaCap, so the per-probe broadcast stays
  // small by construction; overflow falls back to a rebuild (= the merge)
  private val delta = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
  // executor-RESIDENT current graph generation: loaded once per build and
  // probed as narrow jobs (no parquet re-read per search) — the serving
  // economics of the reference's in-process index between checkpoints
  private var resident: Option[graft.index.HnswResident] = None
  // exact mode's serving form: the immutable source pinned ONCE as scan
  // shards; each checkpoint probes them under the live-range mask (an
  // O(#ops) broadcast, see [[Runbook.liveRanges]]) — same results as the
  // per-checkpoint kNN dataflow, without re-reading or joining the corpus
  private var scan: Option[graft.index.ResidentScan] = None
  private val opLog = scala.collection.mutable.ArrayBuffer.empty[RunbookStep]
  private lazy val qsArr = queries
    .select(col("qid").cast("long"), col("qvec"))
    .as[(Long, Array[Float])].collect()
  private val checkpoints = scala.collection.mutable.Map.empty[Int, DataFrame]
  reset()

  /** Clear all op-log state (checkpoint results included) and release any
    * resident structures — the executor is ready for a fresh op sequence.
    * `graphBuilds` is cumulative across resets (build accounting). */
  def reset(): Unit = {
    releaseResident()
    inserted = Seq.empty[(Long, Long)].toDF("id", "seq")
    insertedLogRows = 0L
    tombstones = Seq.empty[(Long, Long)].toDF("id", "seq")
    nTombstones = 0L
    graphFresh = false
    graphTomb = Set.empty
    graphRanges = Array.empty
    delta.clear()
    opLog.clear()
    checkpoints.clear()
    opsSinceTruncate = 0
  }

  /** Is `id` a node of the current graph generation? Binary search over the
    * sorted disjoint build-time live ranges. */
  private def inGraph(id: Long): Boolean = {
    var lo = 0
    var hi = graphRanges.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (s, e) = graphRanges(mid)
      if (id < s) hi = mid - 1
      else if (id >= e) lo = mid + 1
      else return true
    }
    false
  }

  private def releaseResident(): Unit = {
    resident.foreach(_.unload()); resident = None
    scan.foreach(_.unload()); scan = None
  }

  /** Checkpoint results accumulated so far — every checkpoint is eager and
    * by-value, so the returned frames are safe across later mutations. */
  def checkpointResults: Map[Int, DataFrame] = checkpoints.toMap

  /** Release resident structures and return the accumulated checkpoints.
    * The incremental caller's terminal step (batch [[run]] calls it
    * internally). */
  def finish(): Map[Int, DataFrame] = {
    releaseResident()
    checkpoints.toMap
  }

  // an id is live iff its most recent op is an insert
  private def liveIds: DataFrame = {
    val ins = inserted.groupBy("id").agg(max("seq").as("ins_seq"))
    val del = tombstones.groupBy("id").agg(max("seq").as("del_seq"))
    ins.join(del, Seq("id"), "left")
      .where(col("del_seq").isNull || col("ins_seq") > col("del_seq"))
      .select("id")
  }

  /** Replace the op history with canonical inserts of its net live ranges
    * — liveness depends only on the net effect, so this is exact, and it
    * keeps [[Runbook.liveRanges]]'s O(#ops²) sweep and the opLog's driver
    * footprint bounded by the compaction cadence instead of growing with
    * stream length. */
  private def compactOpLog(ranges: Array[(Long, Long)]): Unit = {
    opLog.clear()
    ranges.foreach { case (lo, hi) => opLog += RunbookStep("insert", lo, hi) }
  }

  // materialize the net live set, clear both logs; the graph artifact
  // (if any) is compacted away with them — next search rebuilds it over
  // the consolidated live set (consolidate_delete semantics)
  private def consolidate(seq: Long): Unit = {
    // localCheckpoint, NOT cache: the new generation must become a plan
    // LEAF. A lineage-preserving cache keeps liveIds' plan — which embeds
    // the PREVIOUS generation's plan on both sides of its join — so the
    // logical tree doubles at every consolidation and a long op log blows
    // up plan construction itself (caught by the long-runbook stress
    // spec). The checkpointed rows are tiny (id, seq); superseded
    // generation blocks are released by the context cleaner once
    // unreferenced.
    inserted = liveIds.withColumn("seq", lit(seq)).localCheckpoint()
    insertedLogRows = inserted.count()

    tombstones = Seq.empty[(Long, Long)].toDF("id", "seq")
    nTombstones = 0L
    graphFresh = false
    delta.clear() // the rebuild covers the consolidated live set
    compactOpLog(Runbook.liveRanges(opLog.toSeq))
  }

  /** Run all steps from a clean slate; returns (stepIndex → search result)
    * for every search checkpoint, each (qid, id, dist, rank).
    *
    * With `graphPath` set, searches probe a PERSISTED HNSW graph instead of
    * the exact scan: the graph is built over the live set at the first
    * search, deletes between builds are honored IN-TRAVERSAL as a broadcast
    * tombstone set — the reference's lazy DELETE_MARK design
    * (streaming/diskann/diskann-str.py:83-99, hnswalg.h:1392-1425): a
    * delete-heavy interval costs zero rebuilds, and the tombstone broadcast
    * is bounded by `consolidateAt` because compaction clears it — and
    * inserts between builds accumulate in a DELTA buffer served by exact
    * scan merged with the graph probe (the reference inserts in place,
    * diskann-str.py:60-82; the Spark-native equivalent of a mutable shared
    * graph is an immutable generation plus a bounded delta — the split of
    * FreshDiskANN, Singh et al., arXiv:2105.09613, whose streaming DiskANN
    * the reference's dynamic index descends from): an insert-heavy
    * interval costs zero rebuilds too, until the
    * delta outgrows `deltaCap` or compaction merges it into generation N+1.
    * A search therefore rebuilds only on delta overflow or after
    * consolidation. */
  def run(steps: Seq[RunbookStep]): Map[Int, DataFrame] = {
    reset()
    steps.zipWithIndex.foreach { case (step, i) => applyStep(step, i) }
    finish()
  }

  /** Apply ONE op against the current state — the incremental unit a
    * streaming caller feeds as ops arrive, paying each op exactly once
    * (no replay of the historical log). `i` keys the checkpoint for a
    * search op and stamps the sequence for insert/delete; callers must
    * feed strictly increasing `i`. */
  def applyStep(step: RunbookStep, i: Int): Unit = {
    val seq = i.toLong
    if (step.op != "search") {
      opLog += step
      opsSinceTruncate += 1
      if (opsSinceTruncate >= 64) {
        inserted = inserted.localCheckpoint()
        tombstones = tombstones.localCheckpoint()
        opsSinceTruncate = 0
      }
    }
    step.op match {
      case "insert" =>
        val batch = source
          .where(col("id") >= step.start && col("id") < step.end)
          .select(col("id"), lit(seq).as("seq"))
        // graph mode with a live generation: fetch the batch rows so they
        // can serve delta-resident (one job either way — rows here, count
        // otherwise). The RANGE WIDTH bounds the row count, so checking
        // it against the cap first keeps the driver fetch bounded by
        // deltaCap even for an arbitrarily large insert — an oversized
        // batch goes straight to the rebuild path without ever
        // collecting.
        val mayAbsorb = graphPath.isDefined && graphFresh &&
          delta.size + (step.end - step.start) <= deltaCap
        val batchVecs: Array[(Long, Array[Float])] =
          if (mayAbsorb)
            source.where(col("id") >= step.start && col("id") < step.end)
              .select(col("id").cast("long"), col("vec"))
              .as[(Long, Array[Float])].collect()
          else Array.empty
        val batchRows = // actual rows, not range width
          if (mayAbsorb) batchVecs.length.toLong else batch.count()
        // diskann-str.py:90-93: consolidate BEFORE the insert that would
        // push occupancy past max_pts (only useful if tombstones exist)
        if (insertedLogRows + batchRows > maxPts && nTombstones > 0)
          consolidate(seq)
        inserted = inserted.unionByName(batch)
        insertedLogRows += batchRows
        if (batchRows > 0) {
          if (mayAbsorb && graphFresh) { // graphFresh can drop via maxPts
            // consolidation above, in which case the batch rides the
            // rebuild instead
            // absorb the batch into the resident delta: GRAPH-RESIDENT ids
            // just unmark their tombstone (if any) — the graph still holds
            // the right vector (`source` is immutable per id) — and don't
            // spend delta budget; everything else (including a delta-only
            // id that was deleted and is now re-inserted) enters the delta
            // and serves by exact scan. Discriminating by graph membership,
            // not tombstone membership, is what keeps a deleted-then-
            // re-inserted post-build insert servable.
            batchVecs.foreach { case (id, v) =>
              if (!inGraph(id)) delta(id) = v
            }
            graphTomb = graphTomb
              .filterNot(id => id >= step.start && id < step.end)
          } else {
            graphFresh = false; delta.clear() // overflow: rebuild (merge)
          }
        }
      case "delete" =>
        // a plan LEAF, materialized by the count below: left as a plan, each
        // delete's branch embeds the whole insert log as of that delete, so
        // the tombstone log's plan (and every liveIds task binary) grows
        // with deletes × inserts
        val newTombstones =
          inserted.where(col("id") >= step.start && col("id") < step.end)
            .select(col("id"), lit(seq).as("seq")).distinct()
            .localCheckpoint(eager = false)
        // count the rows actually tombstoned (ids never inserted don't
        // count; ids already tombstoned count once more only if re-marked)
        nTombstones += newTombstones.count()
        tombstones = tombstones.unionByName(newTombstones)
        if (nTombstones >= consolidateAt) {
          // this delete trips compaction anyway: skip the tombstone-id
          // fetch entirely — the driver-side mark set stays bounded by
          // consolidateAt even for a corpus-sized delete range
          consolidate(seq)
        } else if (graphPath.isDefined && graphFresh) {
          // lazy delete: mark, don't rebuild (bounded by consolidateAt).
          // Only GRAPH NODES take a tombstone — a delta-only id is dropped
          // from the delta below and must NOT enter graphTomb, or its later
          // re-insert would be mistaken for a graph-resident unmark.
          graphTomb ++= newTombstones.select("id").as[Long].collect()
            .filter(inGraph)
          // delta rows are dropped directly — they never entered a graph
          delta.filterInPlace((id, _) => id < step.start || id >= step.end)
        }
      case "search" =>
        graphPath match {
          case Some(gp) =>
            if (!graphFresh) {
              // each rebuild gets its own immutable build=N directory
              // (index generations, not in-place mutation): the resident
              // load of generation N must never race a writer recycling
              // generation N-1's path
              val liveVecs = liveIds.join(source, "id").select("id", "vec")
              graphBuilds += 1
              resident.foreach(_.unload()) // superseded generation
              resident = Some(graft.index.HnswKnn.buildResidentAndSave(
                liveVecs, s"$gp/build=$graphBuilds",
                numPartitions = numPartitions))
              // record the generation's node set as the live ranges at
              // build time, and compact the history to them — the opLog
              // is exactly its net live set here, so later liveRanges
              // sweeps stay bounded by the build cadence instead of
              // growing quadratically with stream length
              graphRanges = Runbook.liveRanges(opLog.toSeq)
              compactOpLog(graphRanges)
              graphTomb = Set.empty; delta.clear(); graphFresh = true
            }
            // eager checkpoint: the rows come back with the probe batch,
            // so the checkpoint survives later unloads/rebuilds by value,
            // not by lineage
            checkpoints += i -> spark.createDataFrame(
              resident.get.probeBatch(qsArr, k, efSearch, graphTomb,
                delta.toArray).toSeq)
              .toDF("qid", "id", "dist", "rank")
          case None if residentExact =>
            // eager by-value checkpoint, like graph mode
            if (scan.isEmpty)
              scan = Some(graft.index.ResidentScan.load(
                source.select(col("id"), col("vec"))
                  .withColumn("tags", array().cast("array<int>")),
                numPartitions = numPartitions))
            val ranges = Runbook.liveRanges(opLog.toSeq)
            compactOpLog(ranges) // history ≡ its net live set from here on
            checkpoints += i -> spark.createDataFrame(
              scan.get.probeBatchRanges(qsArr, k, ranges).toSeq)
              .toDF("qid", "id", "dist", "rank")
          case None =>
            val liveVecs = liveIds.join(source, "id")
            checkpoints += i -> Knn.knnJoin(queries, liveVecs, k, Metric.L2)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown runbook op: $other")
    }
  }
}
