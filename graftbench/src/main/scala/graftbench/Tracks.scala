package graftbench

import graft.index.{HnswRouted, ResidentPostings, ResidentScan,
  ResidentTagRegistry, TagSubindexes}
import graft.operators.TagFilter
import graft.streaming.{RunbookExecutor, RunbookStep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Frozen operating points: each knob is the smallest value that reached
  * recall@10 >= 0.9 at seed 1, measured once (README.md lists the sweeps).
  * Sizes are part of the workload definition. */
object Frozen {
  val K = 10
  // filter_planner
  val FilterN = 12000
  val FilterBatch = 500
  val FilterBatches = 2
  val FilterMinFreqBp = 1000L // subindex threshold, and the planner's
  val FilterEf = 10
  // ood_interactive
  val OodN = 8000
  val OodBatch = 16
  val OodBatches = 16
  val OodC = 8
  val OodNprobe = 3
  val OodEf = 10
  // sparse_mips
  val SparseN = 10000
  val SparseBatch = 200
  val SparseBatches = 2
  val SparseBudget = 128L
  val SparseRerank = 320
  // streaming_runbook
  val StreamN = 2048
  val StreamCycles = 4
  val StreamQueries = 100
  val StreamEf = 10
}

/** Several tracks served by one client. A pass runs each part's pass in
  * turn; each item is run and graded by its own part. Knobs are named
  * `<part>.<knob>`. */
final class Mix(c: Ctx, val name: String, parts: Seq[Workload]) extends Workload(c) {
  private val order: IndexedSeq[(Workload, Int)] =
    parts.flatMap(p => (0 until p.passLength).map(j => (p, j))).toIndexedSeq
  for (p <- parts; (k, v) <- p.knobs) knobs(s"${p.name}.$k") = v
  override def setKnob(key: String, v: Long): Unit = {
    val (part, k) = key.splitAt(key.indexOf('.'))
    parts.find(_.name == part).get.setKnob(k.drop(1), v)
    knobs(key) = v
  }
  def probeCalls: Seq[String] = parts.flatMap(_.probeCalls)
  def prepare(): Unit = parts.foreach(_.prepare())
  def setup(): Unit = {
    parts.foreach(_.setup())
    parts.foreach(classMb ++= _.classMb)
  }
  def passLength: Int = order.length
  override def beginPass(): Unit = parts.foreach(_.beginPass())
  def run(i: Int): AnyRef = order(i)._1.run(order(i)._2)
  def grade(i: Int, out: AnyRef): Graded = order(i)._1.grade(order(i)._2, out)
  override def counters: Seq[(String, Double, String)] = parts.flatMap(_.counters)
  def close(): Unit = parts.foreach(_.close())
}

/** Filtered top-10 (L2) behind the tag planner: single-tag queries whose tag
  * has a subindex go to the registry's graphs, every other query to the
  * exact resident scan; the two branches run one after the other. */
final class FilterPlanner(c: Ctx) extends Workload(c) {
  import Frozen.K
  val name = "filter_planner"
  val probeCalls = Seq("index.ResidentScan.probeBatch",
    "index.ResidentTagRegistry.probeGroupsBatch")
  private val n = Frozen.FilterN
  private val nb = Frozen.FilterBatch
  private val batches = Frozen.FilterBatches
  private val minFreqBp = Frozen.FilterMinFreqBp
  knobs("ef") = Frozen.FilterEf
  private val dense = Gen.Dense(c.seed, 10, n, 64, 64, 0.6, unit = false,
    contiguous = false)
  private val tagGen = Gen.Tags(c.seed, 20, 500, 0.7, 8)

  private var vecs: Array[Array[Float]] = _
  private var tags: Array[Array[Int]] = _
  private var qv: Array[Array[Float]] = _
  private var qt: Array[Array[Int]] = _
  private var qsig: Array[Long] = _
  private var truth: Array[Array[Long]] = _
  private var base: DataFrame = _
  private var scan: ResidentScan = _
  private var reg: ResidentTagRegistry = _
  private var graphTags = Set.empty[Int]
  private var graphQueries = 0L
  private var allQueries = 0L

  def prepare(): Unit = {
    vecs = phase("gen") { Truth.par(n)(dense.row) }
    tags = Truth.par(n)(tagGen.row)
    val post = tags.iterator.zipWithIndex
      .flatMap { case (ts, i) => ts.iterator.map(t => (t, i)) }
      .toArray.groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).sorted }
    def matches(q: Array[Int]): Array[Int] =
      q.map(post).reduce(Truth.intersect)
    val nq = nb * batches
    // the generator's own view of which tags clear the subindex threshold
    // (tagStats computes the same integer basis points from the same rows)
    val hot = post.collect { case (t, ids) if 10000L * ids.length / n >= minFreqBp => t }.toSet
    require(hot.nonEmpty, s"no tag reaches $minFreqBp bp")
    // queries sit in the cluster of a row whose bag they draw their tags
    // from: half take one hot tag (the graph branch), a quarter two tags,
    // a quarter one tag below the threshold (both exact scan); >= k matches
    val qs = Array.tabulate(nq) { q =>
      val r = Gen.rng(c.seed, 30, q)
      var out: (Array[Float], Array[Int]) = null
      while (out == null) {
        val row = r.nextInt(n)
        val bag = tags(row)
        val pick = q % 4 match {
          case 0 | 2 => bag.filter(hot).map(Array(_))
          case 1 => if (bag.length < 2) Array.empty[Array[Int]]
            else Array(scala.util.Random.javaRandomToRandom(r).shuffle(bag.toList)
              .take(2).sorted.toArray)
          case _ => bag.filterNot(hot).map(Array(_))
        }
        if (pick.nonEmpty) {
          val t = pick(r.nextInt(pick.length))
          if (matches(t).length >= K)
            out = (Gen.around(r, dense.cs(dense.label(row)), dense.sigma, false), t)
        }
      }
      out
    }
    qv = qs.map(_._1); qt = qs.map(_._2)
    truth = phase("truth") { Truth.par(nq) { q =>
      Truth.topK(K, matches(qt(q)).iterator, i => Truth.l2(qv(q), vecs(i)))
    } }
    import spark.implicits._
    val (dd, tg) = (dense, tagGen)
    base = spark.sparkContext.parallelize(0 until n, c.cores)
      .map(i => (i.toLong, dd.row(i), tg.row(i))).toDF("id", "vec", "tags")
      .persist(StorageLevel.MEMORY_ONLY)
    phase("input") { base.count() }
  }

  /** Query signatures come from the program's own signature function, on
    * first use: the untimed warm-up pass, after setup has compiled the same
    * expressions for the base side. */
  override def beginPass(): Unit = if (qsig == null) {
    import spark.implicits._
    val sig = TagFilter.withSignature(
      qt.toSeq.zipWithIndex.map { case (t, q) => (q.toLong, t) }.toDF("qid", "qtags"),
      "qtags").select("qid", "sig").as[(Long, Long)].collect().toMap
    qsig = Array.tabulate(qt.length)(q => sig(q.toLong))
  }

  def setup(): Unit = {
    if (scan != null) { scan.unload(); reg.unload() }
    scan = setupCall("index.ResidentScan.load") {
      ResidentScan.load(base, numPartitions = c.cores)
    }
    val stats = setupCall("operators.TagFilter.tagStats") {
      TagFilter.tagStats(base).select(col("tag"), col("freq_bp"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
    }
    val path = s"${c.work}/subindex"
    setupCall("index.TagSubindexes.build") {
      TagSubindexes.build(base, path, minFreqBp, numPartitions = c.cores)
    }
    reg = setupCall("index.TagSubindexes.loadResident") {
      TagSubindexes.loadResident(spark, path)
    }
    graphTags = stats.collect { case (t, bp) if bp >= minFreqBp => t }.toSet
      .filter(t => reg.keys(t.toString))
  }

  def passLength: Int = batches

  private def qids(i: Int) = (i * nb until (i + 1) * nb)

  def run(i: Int): AnyRef = {
    // the planner: route by the tagStats selectivity cut
    val (toGraph, toScan) = qids(i).partition(q => qt(q).length == 1 && graphTags(qt(q)(0)))
    val sc = calls("index.ResidentScan.probeBatch", toScan.length) {
      scan.probeBatch(toScan.map(q => (q.toLong, qv(q), qt(q), qsig(q))).toArray, K)
    }
    val groups = toGraph.groupBy(q => qt(q)(0).toString)
      .map { case (key, qs) => key -> qs.map(q => (q.toLong, qv(q))).toArray }
    val gr = calls("index.ResidentTagRegistry.probeGroupsBatch", toGraph.length) {
      reg.probeGroupsBatch(groups, K, knobs("ef").toInt)
    }
    (sc, gr, toScan.map(_.toLong).toSet)
  }

  def grade(i: Int, out: AnyRef): Graded = {
    val (sc, gr, scanQ) = out.asInstanceOf[(Array[(Long, Long, Double, Long)],
      Array[(Long, Long, Double, Long)], Set[Long])]
    graphQueries += nb - scanQ.size
    allQueries += nb
    val got = Truth.byQuery((sc.iterator ++ gr.iterator).map(r => (r._1, r._2, r._4)))
    Truth.check(qids(i).map(_.toLong), got, q => truth(q.toInt),
      (q, id) => id >= 0 && id < n && qt(q.toInt).forall(tags(id.toInt).contains),
      scanQ)
  }

  override def counters: Seq[(String, Double, String)] = Seq(
    ("planner.graph_share", graphQueries.toDouble / math.max(1L, allQueries), "ratio"),
    ("planner.graph_tags", graphTags.size.toDouble, "count"))

  def close(): Unit = if (scan != null) { scan.unload(); reg.unload() }
}

/** Unfiltered top-10 by inner product on the centroid-routed graphs, with
  * off-distribution queries in small batches. */
final class OodInteractive(c: Ctx) extends Workload(c) {
  import Frozen.K
  val name = "ood_interactive"
  val probeCalls = Seq("index.HnswRouted.probeBatch")
  private val n = Frozen.OodN
  private val nb = Frozen.OodBatch
  private val batches = Frozen.OodBatches
  knobs("nprobe") = Frozen.OodNprobe
  knobs("ef") = Frozen.OodEf
  private val dense = Gen.Dense(c.seed, 40, n, 64, 64, 0.6, unit = true,
    contiguous = false)

  private var vecs: Array[Array[Float]] = _
  private var qv: Array[Array[Float]] = _
  private var truth: Array[Array[Long]] = _
  private var base: DataFrame = _
  private var routed: HnswRouted = _

  def prepare(): Unit = {
    vecs = phase("gen") { Truth.par(n)(dense.row) }
    qv = Array.tabulate(nb * batches)(dense.oodQuery)
    truth = phase("truth") { Truth.par(qv.length) { q =>
      Truth.topK(K, (0 until n).iterator, i => Truth.negIp(qv(q), vecs(i)))
    } }
    import spark.implicits._
    val dd = dense
    base = spark.sparkContext.parallelize(0 until n, c.cores)
      .map(i => (i.toLong, dd.row(i))).toDF("id", "vec")
      .persist(StorageLevel.MEMORY_ONLY)
    phase("input") { base.count() }
  }

  def setup(): Unit = {
    if (routed != null) routed.unload()
    val path = s"${c.work}/routed"
    setupCall("index.HnswRouted.buildAndSave") {
      HnswRouted.buildAndSave(base, path, Frozen.OodC, metric = "ip")
    }
    routed = setupCall("index.HnswRouted.loadResident") {
      HnswRouted.loadResident(spark, path)
    }
  }

  def passLength: Int = batches
  private def qids(i: Int) = (i * nb until (i + 1) * nb)

  def run(i: Int): AnyRef = {
    val qs = qids(i).map(q => (q.toLong, qv(q))).toArray
    calls("index.HnswRouted.probeBatch", qs.length) {
      routed.probeBatch(qs, K, efSearch = knobs("ef").toInt,
        nprobe = knobs("nprobe").toInt)
    }
  }

  def grade(i: Int, out: AnyRef): Graded = {
    val rows = out.asInstanceOf[Array[(Long, Long, Double, Long)]]
    Truth.check(qids(i).map(_.toLong), Truth.byQuery(rows.iterator.map(r => (r._1, r._2, r._4))),
      q => truth(q.toInt), (_, id) => id >= 0 && id < n, _ => false)
  }

  def close(): Unit = if (routed != null) routed.unload()
}

/** Top-10 MIPS over Zipf sparse docs through the resident postings, in its
  * two-stage form: a budgeted impact-ordered walk nominates candidates and a
  * forward index rescores them exactly. */
final class SparseMips(c: Ctx) extends Workload(c) {
  import Frozen.K
  val name = "sparse_mips"
  val probeCalls = Seq("index.ResidentPostings.probeBatch")
  private val n = Frozen.SparseN
  private val nb = Frozen.SparseBatch
  private val batches = Frozen.SparseBatches
  knobs("budget") = Frozen.SparseBudget
  private val docs = Gen.Sparse(c.seed, 50, 30000, 1.0, 100, 140, 100)
  private val qgen = Gen.Sparse(c.seed, 60, 30000, 1.0, 40, 58, 50)

  private var qs: Array[(Long, Array[String], Array[Long])] = _
  private var truth: Array[Array[Long]] = _
  private var base: DataFrame = _
  private var post: ResidentPostings = _

  def prepare(): Unit = {
    val rows = phase("gen") { Truth.par(n)(docs.row) }
    // the driver-side inverted file the truth walks exhaustively
    val vocab = docs.vocab
    val len = new Array[Int](vocab)
    rows.foreach(_._1.foreach(d => len(d) += 1))
    val invId = Array.tabulate(vocab)(d => new Array[Int](len(d)))
    val invW = Array.tabulate(vocab)(d => new Array[Long](len(d)))
    java.util.Arrays.fill(len, 0)
    rows.iterator.zipWithIndex.foreach { case ((ds, ws), i) =>
      ds.indices.foreach { j =>
        val d = ds(j); invId(d)(len(d)) = i; invW(d)(len(d)) = ws(j); len(d) += 1
      }
    }
    val qrows = Array.tabulate(nb * batches)(qgen.row)
    qs = qrows.zipWithIndex.map { case ((ds, ws), q) => (q.toLong, ds.map(_.toString), ws) }
    truth = Truth.par(qrows.length) { q =>
      val score = new Array[Long](n)
      val (ds, ws) = qrows(q)
      ds.indices.foreach { j =>
        val ids = invId(ds(j)); val vs = invW(ds(j))
        var p = 0
        while (p < ids.length) { score(ids(p)) += ws(j) * vs(p); p += 1 }
      }
      // only docs sharing a dim with the query can be answers
      Truth.topK(K, (0 until n).iterator.filter(score(_) > 0), i => -score(i).toDouble)
    }
    import spark.implicits._
    val dg = docs
    base = spark.sparkContext.parallelize(0 until n, c.cores)
      .flatMap { i =>
        val (ds, ws) = dg.row(i)
        ds.indices.iterator.map(j => (i.toLong, ds(j).toString, ws(j)))
      }.toDF("id", "dim", "v").persist(StorageLevel.MEMORY_ONLY)
    phase("input") { base.count() }
  }

  def setup(): Unit = {
    if (post != null) post.unload()
    post = setupCall("index.ResidentPostings.load") {
      ResidentPostings.load(base, m = Int.MaxValue, numPartitions = c.cores,
        forward = true)
    }
  }

  def passLength: Int = batches
  private def qids(i: Int) = (i * nb until (i + 1) * nb)

  def run(i: Int): AnyRef = {
    val b = qids(i).map(qs).toArray
    calls("index.ResidentPostings.probeBatch", b.length) {
      post.probeBatch(b, K, knobs("budget"), rerank = Frozen.SparseRerank)
    }
  }

  def grade(i: Int, out: AnyRef): Graded = {
    val rows = out.asInstanceOf[Array[(Long, Long, Long, Long)]]
    Truth.check(qids(i).map(_.toLong), Truth.byQuery(rows.iterator.map(r => (r._1, r._2, r._4))),
      q => truth(q.toInt), (_, id) => id >= 0 && id < n, _ => false)
  }

  def close(): Unit = if (post != null) post.unload()
}

/** A seeded delete-runbook replay: every step is one applyStep call on a
  * graph-mode RunbookExecutor, so tombstones, the delta scan and graph
  * rebuilds all sit inside the timed loop. */
final class StreamingRunbook(c: Ctx) extends Workload(c) {
  import Frozen.K
  val name = "streaming_runbook"
  val probeCalls = Seq("streaming.applyStep.search_rebuild",
    "streaming.applyStep.search_clean")
  private val n = Frozen.StreamN
  private val nq = Frozen.StreamQueries
  private val cycles = Frozen.StreamCycles
  knobs("ef") = Frozen.StreamEf
  private val dense = Gen.Dense(c.seed, 70, n, 32, cycles, 0.6, unit = false,
    contiguous = true)
  // the delete runbook's proportions: 10 deletes per 32 cycles, 3 of them
  // wide, none before the third cycle
  private val steps = Gen.runbook(c.seed, n, cycles,
    deletes = math.max(1, cycles * 10 / 32), wide = cycles * 3 / 32,
    firstDelete = math.max(2, cycles * 6 / 32))
    .map { case (op, s, e) => RunbookStep(op, s, e) }

  private var vecs: Array[Array[Float]] = _
  private var qv: Array[Array[Float]] = _
  private var live: Array[java.util.BitSet] = _
  private var truth: Array[Array[Array[Long]]] = _
  private var source: DataFrame = _
  private var queries: DataFrame = _
  private var exec: RunbookExecutor = _
  private var buildsBefore = 0

  def prepare(): Unit = {
    vecs = phase("gen") { Truth.par(n)(dense.row) }
    qv = Array.tabulate(nq)(dense.nearQuery)
    // the live set after each step, replayed on the driver
    val cur = new java.util.BitSet(n)
    live = steps.map { s =>
      if (s.op == "insert") cur.set(s.start.toInt, s.end.toInt)
      if (s.op == "delete") cur.clear(s.start.toInt, s.end.toInt)
      cur.clone().asInstanceOf[java.util.BitSet]
    }.toArray
    truth = phase("truth") { steps.indices.map { i =>
      if (steps(i).op != "search") null
      else {
        val ids = live(i).stream().toArray
        Truth.par(nq)(q => Truth.topK(K, ids.iterator, j => Truth.l2(qv(q), vecs(j))))
      }
    }.toArray }
    import spark.implicits._
    val dd = dense
    source = spark.sparkContext.parallelize(0 until n, c.cores)
      .map(i => (i.toLong, dd.row(i))).toDF("id", "vec")
      .persist(StorageLevel.MEMORY_ONLY)
    phase("input") { source.count() }
    queries = qv.toSeq.zipWithIndex.map { case (v, q) => (q.toLong, v) }
      .toDF("qid", "qvec").persist(StorageLevel.MEMORY_ONLY)
    queries.count()
  }

  /** A fresh executor plus the runbook's first insert and the search that
    * builds the first graph generation. */
  def setup(): Unit = {
    if (exec != null) exec.finish()
    exec = new RunbookExecutor(source, queries, k = K, maxPts = (0.6 * n).toLong,
      graphPath = Some(s"${c.work}/stream"), efSearch = knobs("ef").toInt,
      numPartitions = c.cores)
    setupCall("streaming.RunbookExecutor.applyStep") {
      exec.applyStep(steps(0), 0); exec.applyStep(steps(1), 1)
    }
  }

  def passLength: Int = steps.length
  /** Every step plans new Spark SQL queries, so the compile backlog is
    * Catalyst's and Janino's and takes about twice as long to drain. */
  override def warmupS: Double = 26.0
  override def beginPass(): Unit = {
    exec.reset()
    buildsBefore = exec.graphBuilds
  }
  override def kind(i: Int): String = steps(i).op

  def run(i: Int): AnyRef = {
    val b0 = exec.graphBuilds
    val t0 = System.nanoTime()
    exec.applyStep(steps(i), i)
    val ms = (System.nanoTime() - t0) / 1e6
    val sub = if (steps(i).op != "search") steps(i).op
      else if (exec.graphBuilds > b0) "search_rebuild" else "search_clean"
    calls.record(s"streaming.applyStep.$sub", ms,
      if (steps(i).op == "search") nq else 0)
    None
  }

  def grade(i: Int, out: AnyRef): Graded =
    if (steps(i).op != "search") Graded(ok = true, 0, 0.0)
    else {
      val rows = exec.checkpointResults(i).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      Truth.check((0 until nq).map(_.toLong), Truth.byQuery(rows.iterator),
        q => truth(i)(q.toInt),
        (_, id) => id >= 0 && id < n && live(i).get(id.toInt), _ => false)
    }

  /** Builds in the last pass: the same in every pass of one seed. */
  override def counters: Seq[(String, Double, String)] = Seq(
    ("streaming.graph_builds", (exec.graphBuilds - buildsBefore).toDouble, "count"),
    ("streaming.steps", steps.length.toDouble, "count"))

  def close(): Unit = if (exec != null) exec.finish()
}
