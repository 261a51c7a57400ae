package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Benchmark main (driver contract): runs every query in SparkEntry.queries
  * against SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: a small untimed warmup (q1_agg) absorbs one-time JVM/codegen
  * startup so per-query numbers measure the operators, and every timed query
  * executes through the noop sink — the full physical plan runs, all columns
  * materialized, nothing short-circuited the way `count()` can prune
  * projection-only plans.
  *
  * Besides per-query wall times, a `qps` block reports SUSTAINED throughput
  * per track (the BASELINE.md operating unit): each track's flagship row
  * runs two untimed warmup batches, then `reps` timed batches of a large
  * query set — steady state, plan compile and JIT amortized. The ANN probe
  * measures the resident-index path (build excluded): build-once/
  * probe-many is the serving economics the reference reports QPS for.
  *
  * INTERLEAVED reps (r7): the headline rows do NOT each run their reps in a
  * private loop. All fixtures build first (untimed), every row warms up
  * once and then times two CALIBRATION batches (their min classifies the
  * row fast/slow — min, so one transient pause can't misclassify), then
  * the timed loop takes reps ROUND-ROBIN passes — pass i takes one SAMPLE
  * of EVERY row, in registration order. Slow environment drift
  * (compaction, page cache churn, a neighbor process) lands on every
  * row's sample i equally instead of concentrating on whichever row owned
  * that wall-clock window, which is what made single rows read spread > 2
  * while flat in isolation (the r6 whole-run ~2x noise band). A sample is
  * NOT one batch: fast rows run back-to-back batches until a ~0.8 s
  * window fills and record the window's MEDIAN batch time (a transient
  * pause inside a ≥3-batch window doesn't perturb the sample at all),
  * while rows whose single batch already fills the window get a GC settle
  * BEFORE each sample plus a GC-aware single retake (see the timed-loop
  * comment). Headline QPS is the MEDIAN per-batch rate and spread is
  * max/min over the row's samples — a JVM-wide pause still lands
  * somewhere, the median reports steady state, the spread reports the
  * worst case, and every sample's GC time is measured so a surviving
  * outlier carries its stall attribution (gc_worst_ms) in the artifact.
  *
  * Methodology note (round-3 lesson): single-shot per-query times at sf0.1
  * swing up to 7× run-to-run on identical binaries, so the per-query map is
  * DIAGNOSTIC ONLY — throughput conclusions must come from the qps block.
  *
  * Knob policy (r8): each family SWEEPS its knob and the HEADLINE row runs
  * at the MATCHED-RECALL operating point — the smallest swept knob whose
  * measured recall clears 0.9 (fallback: the best-recall point if none
  * does), the recall BASELINE.md's own rows are graded at (the reference
  * sweeps its knobs for the same reason: Ls down to 30,
  * ood/diskann/config.yaml:22-27). Which knobs scale with the corpus is
  * per-family physics, and the sweep + auto-pick absorbs it instead of a
  * blanket rule: graph beams (ef) and ADC rerank grow ~log n for fixed
  * recall so their sweeps are ABSOLUTE grids; IVF routing is a corpus
  * FRACTION (minMassPct — a fixed nprobe of a corpus-relative C means
  * nothing across scales) with C itself corpus-relative
  * (IvfIndex.autoC ≈ 4√n — the r7 bench pinned C=8 at every scale, so
  * nprobe=6 scanned 75% of ANY corpus and the ivf*_served rows collapsed
  * 13–15× at 10× rows); MaxSim's hit count c, the binary tier's
  * candidate c, and the postings budget m genuinely grow ~linearly with n
  * (measured at 10× rows: absolute c points lose recall fast — candidate
  * generation has to cover a corpus-sized answer set), so those keep
  * corpus-relative points in their sweeps alongside the absolute ones and
  * their headlines stay at the corpus-relative operating point.
  *
  * Table-driven: every swept family goes through ONE path,
  * [[Registry.sweepPick]] — grade each grid point, register it as a sweep
  * row, pick the matched-recall knob, register the headline — and every
  * row carries its own `op`/`recall` records, so the JSON blocks are
  * rendered from the registry and a skipped family is simply absent.
  *
  * Sweep points (r5 lesson, tightened r7): every sweep point reports
  * MEDIAN-batch QPS plus its own max/min spread — the curve's shape comes
  * from a robust estimator and the variance is in the artifact, not
  * discarded. Sweep points are REGISTERED AS ROWS of the interleaved loop
  * rather than timed eagerly in the fixture-build phase: fixture-phase
  * timing put whole sweep families inside whichever environment band that
  * phase landed in (2–3× apart between runs of identical binaries) while
  * the interleaved loop reproduces to ~±6%. Per-point recalls are
  * deterministic and still computed at build time.
  *
  * Shared fixtures (r5 item 8): the serving tracks probe ONE base/query
  * set, grade against ONE exact-L2 (and one exact-ip) truth collected to a
  * local relation — identical coverage, no redundant brute-force joins or
  * index builds. */
object Bench {
  private val reps = 10
  // round-robin passes of a sweep point and of a row whose calibration
  // batch exceeds 5 s. The pick reads only a sweep point's recall, so its
  // q/s is report data: 3 samples (published per row in reps_capped)
  // still give it a median and a spread
  private val cappedReps = 3
  // minimum timed-sample window (headline rows AND sweep points): a
  // sample of a fast row averages enough back-to-back batches to fill
  // this window, so a transient pause perturbs the sample by its share
  // of the window rather than of one short batch
  private val minWindowSec = 0.8

  /** Env variables that restrict what a run measures. */
  val filterVars: Seq[String] = Seq("SPARK_GRAFT_TRACKS",
    "SPARK_GRAFT_IVF_FAMILIES", "SPARK_GRAFT_QPS_ONLY",
    "SPARK_GRAFT_SWEEP_CAP_PCT")

  /** Where the full JSON object is written: SPARK_GRAFT_BENCH_OUT when
    * set, else `BENCH_METRICS.json` — but only for an unfiltered run. A
    * filtered run (any of [[filterVars]] set) without SPARK_GRAFT_BENCH_OUT
    * is rejected, so a partial object can never replace the committed
    * full-run artifact. */
  def outPath(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val set = filterVars.filter(env.contains)
      require(set.isEmpty, s"${set.mkString(", ")} filters the run: set " +
        "SPARK_GRAFT_BENCH_OUT to the output file (BENCH_METRICS.json is " +
        "written only by an unfiltered run)")
      "BENCH_METRICS.json"
    })

  /** Matched-recall operating point: the smallest swept knob clearing the
    * 0.9 grading recall (BASELINE.md's rows are @0.9); if no point clears
    * it, the best-recall point (smallest knob on a tie) — the headline is
    * then honestly sub-0.9 and its recall says so in the artifact. */
  def pickKnob(points: Seq[(Int, Double)], floor: Double = 0.9): Int = {
    val sorted = points.sortBy(_._1)
    sorted.find(_._2 >= floor).map(_._1)
      .getOrElse(sorted.maxBy(_._2)._1)
  }

  /** Seconds `body` took, less the fixture builds that `fixtureSeconds`
    * (build seconds by key) gained meanwhile — a fixture is reported on
    * its own, not charged to whichever query built it first — or, when
    * `body` throws, the exception as [[errText]]. */
  def timed(fixtureSeconds: => Map[String, Double])(body: => Unit): Either[String, Double] = {
    val before = fixtureSeconds.keySet
    val t0 = System.nanoTime()
    try {
      body
      val sec = (System.nanoTime() - t0) / 1e9
      Right(sec - (fixtureSeconds -- before).values.sum)
    } catch { case e: Throwable => Left(errText(e)) }
  }

  // a row's stall-audit stats, as published when it took no sample
  private val noStats: ListMap[String, Any] = ListMap("spread" -> 0.0,
    "gc_worst_ms" -> 0L, "cpu_frac_worst" -> 0.0, "cpu_frac_med" -> 0.0)

  private def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s + "\""
  /** An exception's class and message, cut to 300 chars, as one line of
    * JSON-safe text. */
  private def errText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(300)
      .replace("\\", "\\\\").replace("\"", "'").map(c => if (c < ' ') ' ' else c)

  /** One interleaved row: its batch, its effective query count (qps =
    * norm / median batch seconds), the `op`/`recall` records published
    * for it, and what the timed loop measures for it. */
  private final class Row(val name: String, val norm: Double,
                          val headline: Boolean, val run: () => Unit) {
    val op = ArrayBuffer.empty[(String, Any)]
    val recall = ArrayBuffer.empty[(String, Any)]
    def withOp(kv: (String, Any)*): Row = { op ++= kv; this }
    def withRecall(kv: (String, Any)*): Row = { recall ++= kv; this }
    var failed = false
    var calib = 1.0
    var gcRetakes = 0
    var cpuRetakes = 0
    // cpu-frac history, seeded by calibration
    val cf = ArrayBuffer.empty[Double]
    // per sample: (sec per batch, GC ms inside the sample's timed region,
    // process-CPU share of the sample's wall window)
    val samples = ArrayBuffer.empty[(Double, Long, Double)]
    def cfMedian: Double =
      if (cf.length < 2) 0.0 else cf.sorted.apply(cf.length / 2)
    def iters: Int = math.max(1, math.min(25,
      math.ceil(minWindowSec / math.max(calib, 1e-3)).toInt))
    def nReps: Int =
      if (!headline || calib > 5.0) math.min(cappedReps, reps) else reps
    // median rate + max/min spread over the interleaved samples
    lazy val qps: Double =
      if (failed || samples.isEmpty) 0.0
      else norm / samples.map(_._1).sorted.apply(samples.length / 2)
    // GC time and process-CPU share inside the WORST sample (the stall
    // audit: cpu share ~1.0 = the JVM computed the whole window, << 1 =
    // the host withheld cycles), and the MEDIAN sample's share as the
    // row's own baseline — serving batches legitimately run ~0.1 of 32
    // cores, so the outlier signal is worst-vs-median collapse
    lazy val stats: ListMap[String, Any] =
      if (samples.isEmpty) noStats
      else {
        val ts = samples.sortBy(_._1)
        val worst = samples.maxBy(_._1)
        def share(s: (Double, Long, Double)) = math.rint(s._3 * 1000) / 1000
        ListMap(
          "spread" -> (if (failed) 0.0 else ts.last._1 / math.max(ts.head._1, 1e-9)),
          "gc_worst_ms" -> worst._2, "cpu_frac_worst" -> share(worst),
          "cpu_frac_med" -> share(ts(ts.length / 2)))
      }
  }

  private final case class Pick(row: Row, knob: Int, recall: Double)

  /** The interleaved rows in registration (= round-robin) order and the
    * sweep families built from them. */
  private final class Registry {
    val rows = ArrayBuffer.empty[Row]
    private val sweeps =
      LinkedHashMap.empty[String, (String, ArrayBuffer[(Int, Double, Row)])]

    def register(name: String, norm: Double, headline: Boolean = true)(
        runOnce: => Unit): Row = {
      val r = new Row(name, norm, headline, () => runOnce)
      rows += r
      r
    }

    /** Grades every grid point with `recallOf` (deterministic, at build
      * time) and registers it as row `sweep:<family>:<knob>`. */
    def sweep(family: String, knob: String)(grid: Seq[Int], nQ: Int,
        recallOf: Int => Double)(batch: Int => Unit): Seq[(Int, Double)] = {
      val pts = sweeps.getOrElseUpdate(family, (knob, ArrayBuffer.empty))._2
      grid.map { k =>
        // duplicate knobs would merge two rows into one sweep point
        require(!pts.exists(_._1 == k), s"duplicate sweep point $family:$k")
        val rc = recallOf(k)
        pts += ((k, rc, register(s"sweep:$family:$k", nQ, headline = false)(
          batch(k))))
        k -> rc
      }
    }

    /** The sweep → pick → register path: sweeps `grid`, registers the
      * headline `row` at the matched-recall knob, and records the knob as
      * op `<row>_<knob>` and its recall under `recallKey`. */
    def sweepPick(row: String, knob: String)(grid: Seq[Int], nQ: Int,
        recallOf: Int => Double, family: String = row,
        recallKey: String = row)(batch: Int => Unit): Pick = {
      val pts = sweep(family, knob)(grid, nQ, recallOf)(batch)
      val k = pickKnob(pts)
      val rc = pts.toMap.apply(k)
      Pick(register(row, nQ)(batch(k)).withOp(s"${row}_$knob" -> k)
        .withRecall(recallKey -> rc), k, rc)
    }

    /** The registry's part of the `qps` object: per-headline medians and
      * stall audit, op/recall records of the rows that ran, sweeps. */
    def json: Seq[(String, Any)] = {
      val heads = rows.filter(_.headline).toSeq
      heads.map(r => r.name -> r.qps) ++
        noStats.keys.map(s => s -> obj(heads.map(r => r.name -> r.stats(s)))) ++
        Seq(
          "op" -> obj(rows.flatMap(_.op).distinct),
          "reps_capped" ->
            obj(rows.collect { case r if r.nReps < reps => r.name -> r.nReps }),
          "recall" -> obj(rows.flatMap(_.recall)),
          "sweep" -> obj(sweeps.map { case (family, (knob, pts)) =>
            family -> pts.sortBy(_._1).map { case (k, rc, r) =>
              obj(Seq(knob -> k, "qps" -> r.qps, "recall" -> rc) ++ r.stats)
            }.mkString("[", ",", "]")
          }))
    }
  }

  // collect accumulated old-gen debt at pass boundaries: fixture builds
  // and recall grading leave garbage whose eventual full collection
  // otherwise lands as one multi-second pause on a random row's batch
  private def settle(): Unit = { System.gc(); Thread.sleep(100) }

  // hypervisor steal meter: this box steals CPU from the guest in
  // minutes-scale bands (observed ~1.7% mean, concentrated), which is
  // what inflates spread run-to-run on identical binaries — medians
  // stay put (interleaving), but worst-case samples track the band.
  // Publishing the timed loop's steal share puts the evidence in the
  // artifact next to the spreads it explains.
  private def cpuStat(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // first 8 fields (user..steal) only: guest/guest_nice are already
      // folded into user/nice, so summing them double-counts the total
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  /** The interleaved timed loop (see the scaladoc): per row, one untimed
    * warmup then TWO timed batches whose MIN is the calibration time — a
    * transient pause on a single calibration batch can no longer
    * misclassify a fast row as slow (it=1) and revert it to unwindowed
    * samples. Then `reps` round-robin passes over every row. Returns the
    * loop's hypervisor steal share in percent. */
  private def timeRows(rows: Seq[Row]): Double = {
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans()
    def gcMsNow(): Long = {
      var acc = 0L
      gcBeans.forEach { b =>
        val t = b.getCollectionTime; if (t > 0) acc += t
      }
      acc
    }
    // process-CPU share of a sample's wall window: ~1.0 when the JVM's
    // threads actually ran the whole window, collapsing when the HOST
    // stalled the process (descheduling, cpu-band contention) — the
    // attribution for spread outliers whose gc_worst_ms reads 0 (r8:
    // whole adjacent row-stretches at spread 3-9 with zero GC and steal
    // < 0.1%; medians reproduce, worst samples track the band)
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val nProcs = Runtime.getRuntime.availableProcessors()
    def share(c0: Long, wallNs: Long): Double =
      (osBean.getProcessCpuTime - c0).toDouble / (wallNs.toDouble * nProcs)
    rows.foreach { r =>
      try {
        r.run()
        def timed(): Double = {
          val c0 = osBean.getProcessCpuTime
          val t0 = System.nanoTime()
          r.run()
          val w = System.nanoTime() - t0
          r.cf += share(c0, w)
          w / 1e9
        }
        r.calib = math.min(timed(), timed())
      } catch { case _: Throwable => r.failed = true }
    }
    // min-window sample batching (r7; GC-audited r8): a ~45 ms batch turns
    // ANY transient pause (a late JIT pass, old-gen collection of a heavy
    // neighbor row's debt) into a 5–10× max sample, so fast rows read
    // spread > 5 while flat in isolation. Each timed SAMPLE of a fast row
    // runs enough back-to-back batches to fill ~0.8 s and records the
    // MEDIAN batch time of the window (r8: a collection inside a ≥3-batch
    // window no longer perturbs the sample at all, where the r7 mean
    // diluted-but-kept it). Slow rows (single batch ≥ the window) get a
    // settle() BEFORE each sample, and if a major collection still lands
    // inside the timed batch (> 200 ms of GC AND > 20% of the batch) the
    // sample is RETAKEN once. Nothing is silently discarded: the retake
    // count and each row's GC time during its WORST sample are published
    // in the artifact, so a surviving spread outlier carries its stall
    // attribution (gc_worst_ms ≈ 0 ⇒ the stall was not the collector).
    // Sweep points, and rows whose calibration batch exceeds 5 s, keep
    // only `cappedReps` round-robin samples (published per row in
    // reps_capped) — 108 of sf0.1's 131 rows are sweep points, and their
    // 10 passes made the loop alone at least 17 min on a 4-core host.
    def sample(r: Row, it: Int): (Double, Long, Double) = {
      val g0 = gcMsNow()
      val c0 = osBean.getProcessCpuTime
      val t0w = System.nanoTime()
      val bt = Array.fill(it) {
        val t0 = System.nanoTime()
        r.run()
        (System.nanoTime() - t0) / 1e9
      }
      val cf = share(c0, System.nanoTime() - t0w)
      java.util.Arrays.sort(bt)
      (bt(it / 2), gcMsNow() - g0, cf)
    }
    // cpu-frac retake (r9): r8's audit showed 13 headline rows at spread
    // 2–9.5 with gc_worst_ms 0, steal < 0.1%, and the worst sample's
    // cpu_frac BELOW the row median — host CPU starvation the GC retake
    // can't see. Mirror it: a sample whose process-CPU share collapses
    // below 60% of the row's own MEDIAN share (serving batches run ~0.1
    // of 32 cores and swing ~2× sample-to-sample; the row's best-ever
    // share re-took ~half of all samples) is retaken ONCE (retake kept
    // regardless), at most 3 retakes per row so a genuinely-degraded
    // environment can't double a run's wall. Count published next to
    // gc_retakes — nothing is silently discarded.
    def cpuRetake(r: Row, cf: Double): Boolean = {
      val ref = r.cfMedian
      val hit = ref > 0 && cf < 0.6 * ref && r.cpuRetakes < 3
      if (hit) r.cpuRetakes += 1
      hit
    }
    val (statTot0, statSteal0) = cpuStat()
    for (pass <- 1 to reps; r <- rows if !r.failed && pass <= r.nReps) {
      try {
        val it = r.iters
        if (it == 1) settle()
        var s = sample(r, it)
        if (it == 1 && s._2 > 200 && s._2 > 0.2 * s._1 * 1000.0) {
          r.gcRetakes += 1
          s = sample(r, it)
        }
        // a host stall spanning a whole window defeats the in-window
        // median — the same collapse test applies to windowed rows
        if (cpuRetake(r, s._3)) s = sample(r, it)
        r.cf += s._3
        r.samples += s
      } catch { case _: Throwable => r.failed = true }
    }
    val (statTot1, statSteal1) = cpuStat()
    if (statTot1 > statTot0)
      100.0 * (statSteal1 - statSteal0) / (statTot1 - statTot0)
    else 0.0
  }

  def main(args: Array[String]): Unit = {
    // fail before any Spark work when a filtered run names no output file
    val outFile = outPath(sys.env)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // tiny-state aggs (top-k heaps, vec means) must never hit the
      // 128-key sort-based fallback (see TopK.ensureHashAggKeyRoom)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // Spark's default FIFO scheduling: a session-wide FAIR switch (r12)
      // measured worse on every 10M filter row — subindex 2,323 → 1,922
      // q/s, planner spread 1.86 → 3.34, exact scan 324 → 267 at identical
      // knobs. FIFO is also the backfill shape concurrent stripe jobs
      // want: the earliest job's tail frees slots the next job's tasks
      // fill, instead of time-slicing every in-flight job thin.
      // fixture passes over the scaled corpora are scan-bound: 64 MB
      // splits give local[32] full parallelism on a ~2.6 GB parquet
      // (default 128 MB → ~20 tasks pins a third of the box idle)
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def run(name: String): Unit = {
      noop(SparkEntry.queries(name)(spark, sfDir))
      // queries are independent; drop their persisted intermediates so the
      // queries' caches don't accumulate into GC pressure that skews timings
      spark.sqlContext.clearCache()
    }
    // a query that throws is reported under queries_failed and left out of
    // the per-query map and the total
    val failed = LinkedHashMap.empty[String, String]
    def timedRun(name: String)(body: => Unit): Option[(String, Double)] =
      timed(SparkEntry.fixtureSeconds)(body) match {
        case Right(sec) => Some(name -> sec)
        case Left(err) => failed(name) = err; None
      }
    // SPARK_GRAFT_QPS_ONLY=1 skips the per-query map — for scale-ratchet
    // runs on benchmark-shape data (embeddings + documents only) where the
    // full TPC-H star schema isn't present and the serving qps block is
    // the object of measurement
    val qpsOnly = sys.env.get("SPARK_GRAFT_QPS_ONLY").contains("1")
    // SPARK_GRAFT_TRACKS=graph,ivf,routed restricts the qps block to the
    // named serving families (plus "batch" for the pipeline slice and
    // "streaming" for the replay). Unset = everything, unchanged. The
    // point is the largest scale decades: the scan-bound families are
    // measured linear through sf10 — re-paying a known-linear scan's
    // minutes-per-batch at 1000× rows buys no information, while the
    // sublinear families (graph beams, IVF routing) are exactly what the
    // next decade has to prove. A filtered artifact names its tracks in
    // the env block.
    val tracks = sys.env.get("SPARK_GRAFT_TRACKS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def trackOn(t: String): Boolean = tracks.forall(_.contains(t))
    val tracksLabel = tracks.map(_.toSeq.sorted.mkString(",")).getOrElse("all")
    // ivf-track sub-family filter label (the filter itself is read inside
    // the ivf block); a filtered artifact names its families in env
    val ivfFamsLabel = sys.env.getOrElse("SPARK_GRAFT_IVF_FAMILIES", "all")
    // SPARK_GRAFT_SWEEP_CAP_PCT caps the corpus-FRACTION sweep grids (IVF
    // minMassPct, routed cluster fractions). The high-fraction tail exists
    // to anchor the exact-scan end of each curve; at the largest decades a
    // 75–100%-of-corpus point is minutes of wall re-measuring linear scan
    // physics the smaller SFs already anchor, while every measured
    // matched-recall pick FALLS with n (35% → 15% across sf0.1→sf10).
    // The artifact's sweep block states whatever grid actually ran.
    val sweepCapPct = sys.env.get("SPARK_GRAFT_SWEEP_CAP_PCT")
      .map(_.toInt).getOrElse(100)
    // untimed warmup: q1_agg pays the session's first-job costs (codegen,
    // parquet footer reads)
    if (!qpsOnly)
      try run("q1_agg") catch { case _: Throwable => () }
    val results =
      if (qpsOnly) Map.empty[String, Double]
      else SparkEntry.queries.flatMap { case (name, _) => timedRun(name)(run(name)) }
    // scale-ratchet runs also time a representative PIPELINE/batch slice
    // (documents-table-only queries, the same run() semantics as the
    // per-query map) so the dedup/text/mixture side's 10× scaling is in
    // the artifact alongside the serving rows — at normal SFs the full
    // per-query map already covers these.
    val batchResults =
      if (!qpsOnly || !trackOn("batch")) Map.empty[String, Double]
      else {
        // dedup_embed_nn runs its CORPUS-RELATIVE band width here (the
        // oracle gate stays at the pinned 8-bit default, which equals the
        // auto rule at gate scale): with fixed-width bands the candidate
        // join is Sigma(bucket^2) ~ n^2 — measured 31 CPU-minutes in one
        // task at 200k rows — while autoBandBits holds expected bucket
        // occupancy constant, making candidate volume ~ n.
        val scaleAware: Map[String, () => Unit] = Map(
          "dedup_embed_nn" -> (() => {
            val e = Tables.embeddings(spark, sfDir)
            noop(operators.Dedup.embeddingLshNearestNeighbor(
              e, dim = 64, k = 1,
              bandBits = operators.Dedup.autoBandBits(e.count())))
            spark.sqlContext.clearCache()
          }))
        try run("text_quality") catch { case _: Throwable => () } // warmup
        Seq("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
          "dedup_spans_trim", "dedup_embed_nn", "text_quality",
          "text_lm_familiarity", "pipeline_quality_deciles",
          "pipeline_sequences", "pipeline_mixture_take", "text_redact_pii")
          .flatMap { name =>
            timedRun(name)(scaleAware.getOrElse(name, () => run(name)).apply())
          }.toMap
      }

    // -- sustained QPS per track (steady-state batches, warmup excluded) ----
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val nq = math.min(500L, n / 2).toInt
    // Resident serving forms shard CORPUS-RELATIVE, floor 8, cap = session
    // cores: shards are the scale-out axis (one per executor core on a
    // cluster) and a probe batch is ONE job whose task count = shard
    // count. The fixed 8 shards used through r8 left 3/4 of a 32-core
    // host idle in every timed scan at the big decades (load average
    // pinned at 8 mid-sweep — the 10M rows' QPS under-reported the
    // machine ~4×), while 32 shards of a 2,000-row corpus are 62-row
    // tasks whose scheduling overhead halves the tiny-SF rows. ~16k rows
    // per shard amortizes task launch into the scan at every benched
    // decade; the floor keeps sf0.1–sf10 rows shard-identical to the r8
    // artifacts. The floor is the INVARIANT (small-SF rows stay
    // shard-identical to r8 even under the driver's default 4-cpu run —
    // min(cpus, max(8, …)) silently yielded 4 shards there); the cap
    // applies only above it.
    val serveShards = math.max(8, math.min(cpus.toInt, (n / 16384L).toInt))
    // corpus-relative budget-knob scale (see methodology note): 1 at the
    // sf0.1 reference corpus, 10 at 10× rows, etc.
    val knobScale = math.max(1L, n / 2000L).toInt
    // candidate width of the sparse two-stage kernel (r13): ABSOLUTE —
    // 32·k exact-scored candidates per (query, shard) regardless of corpus
    // size (the budget knob, swept below, is what buys candidate coverage)
    val sparseRerankC = 320
    // query striping for the resident serving batches (r12, guide §2.6 —
    // the generalization of the r11 subindex `slices` win to EVERY
    // resident family): a probe batch is ONE narrow job whose task fan is
    // the resident partition count, and the corpus-relative serveShards
    // floor of 8 leaves 3/4 of a 32-core box idle at the small decades
    // (cpu_frac_med ~0.1–0.3 on those rows in r10/r11). ProbeSlices.auto
    // sizes stripes so slices × partitions ≈ 2 × cores — scale-adaptive:
    // at the 10M decade serveShards = cores and this degrades to 2 (tail
    // overlap only), and under the driver's low-core scaling runs it is 1.
    // Rows are IDENTICAL to the unsliced batch (stripes partition qids;
    // asserted in IndexSpec/SparseSpec) — the reference's own serving
    // harness stripes queries over a thread pool for the same reason
    // (filter/faiss/faiss.py:420-426).
    def slices(parts: Int, nQ: Int): Int =
      index.ProbeSlices.auto(parts, cpus.toInt, nQ)
    // one timed batch of a striped resident probe, checked non-empty
    def probe[Q: scala.reflect.ClassTag, D](qs: Array[Q], parts: Int)(
        one: Array[Q] => Array[(Long, Long, D, Long)]): Unit =
      require(index.ProbeSlices.striped(qs, slices(parts, qs.length))(one)(
        r => (r._1, r._4)).nonEmpty)

    val reg = new Registry
    val teardowns = ArrayBuffer.empty[() => Unit]
    def deferUnload(f: => Unit): Unit = teardowns += (() => f)

    // shared serving fixtures
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val qsFloat = index.ResidentServe.queries(queries)
    def probeF(parts: Int)(one: Array[(Long, Array[Float])] =>
        Array[(Long, Long, Double, Long)]): Unit = probe(qsFloat, parts)(one)
    def frame(rows: Array[(Long, Long, Double, Long)]): DataFrame =
      index.ResidentServe.frame(spark, rows)
    def rec(got: DataFrame, truth: DataFrame): Double =
      operators.Recall.mean(got, truth, 10)
    // exact truths, collected to LOCAL relations: per-track clearCache
    // can't drop them and no track recomputes the brute-force join
    def localTruth(df: DataFrame): DataFrame =
      spark.createDataFrame(
        df.select(col("qid").cast("long"), col("id").cast("long"),
          col("rank").cast("long")).as[(Long, Long, Long)].collect().toSeq)
        .toDF("qid", "id", "rank")
    def exactTruth(metric: String): DataFrame = {
      val t = localTruth(operators.Knn.knnJoin(queries, base, 10, metric))
      spark.sqlContext.clearCache(); t
    }
    // lazy: a tracks-filtered run only pays for the truths its families
    // grade against (each is a full brute-force join over the corpus)
    lazy val truthL2 = exactTruth(operators.Metric.L2)
    lazy val truthIp = exactTruth(operators.Metric.Ip)
    lazy val truthCos = exactTruth(operators.Metric.Cosine)

    if (trackOn("filter")) {
    // filter track: exact conjunctive 2-tag filtered kNN, k=10, served from
    // EXECUTOR-RESIDENT signature-scan shards (build+pin excluded from the
    // timed loop — the reference's QPS excludes its index build too, and
    // its 3,200 QPS operating point is @0.9 recall where this path is
    // exact: ResidentScan equals the filteredKnn dataflow row-for-row,
    // IndexSpec-asserted). serveShards (corpus-relative, floor 8): same
    // sizing argument as the graph partitions below.
    val tagged = operators.TagFilter.withTags(emb)
    val filterServed = index.ResidentScan.load(tagged, numPartitions = serveShards)
    deferUnload(filterServed.unload())
    val filterQs = operators.TagFilter
      .withSignature(operators.TagFilter.tagQueries(emb, nq), "qtags")
      .select(col("qid").cast("long"), col("qvec"), col("qtags"),
        col("sig").cast("long"))
      .as[(Long, Array[Float], Array[Int], Long)].collect()
    // NOT striped (measured regression, r12): the exact signature scan is
    // bandwidth-bound — every probe touches the whole shard's packed
    // signatures — so concurrent stripe jobs contend for the same memory
    // stream instead of filling idle cores: striped 9,734 q/s vs 13,735
    // unsliced in the same host band at sf0.1. At the 10M decade the scan
    // saturates the box on its own (cpu_frac 0.87, r11), so striping buys
    // nothing there either. The graph/code families below stripe: their
    // probes are compute-bound walks over small working sets.
    reg.register("filtered_knn", nq) {
      require(filterServed.probeBatch(filterQs, k = 10).nonEmpty)
    }.withRecall("filtered_knn" -> 1.0)

    // filter track, per-tag SUBINDEX registry (X8, the reference's hot-tag
    // strategy): every label and mod-7 tag clears minFreqBp = 500, so each
    // single-tag query probes a dense purpose-built graph — membership IS
    // the index, no filtering inside the search. Build+pin untimed; recall
    // vs the exact single-tag filtered scan (the graphs are approximate).
    val registryPath = java.nio.file.Files
      .createTempDirectory("graft-bench-subidx").resolve("reg").toString
    index.TagSubindexes.build(tagged, registryPath, minFreqBp = 500,
      numPartitions = 2)
    val tagRegistry = index.TagSubindexes.loadResident(spark, registryPath)
    deferUnload(tagRegistry.unload())
    // probe-slice count: a probe job's task fan is bounded by the resident
    // (key, part) graph count, and the hot-tag vocabulary here (10 labels
    // × 2 parts) is far below the core count — the r10 10M headline ran at
    // cpu_frac 0.30 on exactly this bound. Stripe each batch into enough
    // concurrent jobs to oversubscribe the machine (work unchanged — every
    // qid is still probed once, against only its own key's graphs). Big
    // corpora target 4× the cores: at 10M a batch's ~500 queries split
    // over only the label keys' elements, and the 2×-target run still read
    // cpu_frac 0.6 at ef 384 (batches long enough to swallow the extra
    // per-stripe job submission); small corpora keep 2× — their batches
    // are milliseconds and stripe overhead would dominate (the r8
    // tiny-task lesson).
    val sliceTarget = if (n >= 1000000L) 4 else 2
    val subSlices = math.max(1,
      (sliceTarget * cpus.toInt + tagRegistry.numElements - 1) /
        tagRegistry.numElements)
    val subQ = emb.where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").cast("int").as("qtag"))
    val subGroups = subQ
      .select(col("qid").cast("long"), col("qvec"), col("qtag"))
      .as[(Long, Array[Float], Int)].collect()
      .groupBy(_._3.toString)
      .map { case (key, qs) => key -> qs.map { case (qid, qv, _) => (qid, qv) } }
    def subBatch(ef: Int, s: Int) =
      tagRegistry.probeGroupsBatch(subGroups, k = 10, efSearch = ef, slices = s)
    // per-tag graphs hold ~n/10 nodes each, so the beam is an absolute
    // grid like the flat graphs'; truth is the exact filtered scan,
    // collected once. Headline = matched-recall pick; the planner row
    // below reuses the picked beam (its graph branch probes this registry).
    val subTruth = localTruth(operators.TagFilter.filteredKnn(
      subQ.select(col("qid"), col("qvec"), array(col("qtag")).as("qtags")),
      tagged, 10))
    // grid extends corpus-relative past 1M rows, same treatment as the
    // flat-graph grid below: a per-tag graph holds ~n/10 nodes, and the
    // matched-recall beam grows with near-tie density — a fixed top point
    // of 48 would bind the family's recall at the grid, not the
    // algorithm, exactly the r8 sf10/2M failure mode.
    val subindexEfs = Seq(16, 24, 32, 48) ++
      (if (n >= 1000000L) Seq(96, 192, 384) else Seq.empty)
    val sub = reg.sweepPick("filtered_knn_subindex", "efSearch")(subindexEfs,
      nq, ef => rec(frame(subBatch(ef, subSlices)), subTruth)) { ef =>
      require(subBatch(ef, subSlices).nonEmpty)
    }
    sub.row.withOp("filtered_knn_subindex_slices" -> subSlices)
    // slices SATURATION sweep (large decades only): identical probe work at
    // the matched-recall beam — every qid still searched once against its
    // own key's graphs, rows identical — with only the stripe count varying,
    // so the curve locates where concurrency stops paying and per-stripe
    // job-submit overhead takes over (the r11 headline idled ~27% of the
    // box at the heuristic's slices = 4; recall is slice-invariant by
    // construction). Small corpora skip it: their batches are milliseconds
    // and the sweep would time stripe overhead, not the operator.
    if (n >= 1000000L)
      reg.sweep("filtered_knn_subindex_slices", "slices")(Seq(2, 4, 8, 16),
        nq, _ => sub.recall)(s => require(subBatch(sub.knob, s).nonEmpty))

    // filter track, PLANNER serving form (the reference's flagship,
    // faiss.py:361-426): a mixed batch routes per query on tag-frequency
    // stats — rarest tag below thresholdBp → the exact resident signature
    // scan (pre-filter branch); at/above it → the tag's dedicated resident
    // subindex graph (one-stage graph branch). Routing is a client-side
    // stats-map lookup (the reference's O(1) planner decision); both
    // branches are resident serving paths; recall is graded on the mixed
    // batch vs the exact filtered scan.
    val statsMap = operators.TagFilter.tagStats(tagged)
      .select(col("tag").cast("int"), col("freq_bp").cast("long"))
      .as[(Int, Long)].collect().toMap
    val plannerThresholdBp = 1200L // between label (~1000bp) and mod7 (~1428bp)
    val twoTagQ = operators.TagFilter.tagQueries(emb, nq / 2)
    val oneTagQ = emb.where(col("vec_id") >= nq / 2 && col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        array((lit(10) + pmod(col("vec_id") * 3 + 1, lit(7))).cast("int")).as("qtags"))
    val plannerQ = twoTagQ.unionByName(oneTagQ)
    val plannerRows = operators.TagFilter.withSignature(plannerQ, "qtags")
      .select(col("qid").cast("long"), col("qvec"), col("qtags"),
        col("sig").cast("long"))
      .as[(Long, Array[Float], Array[Int], Long)].collect()
    val (plannerScanQs, plannerGraphQs) = plannerRows.partition {
      case (_, _, qtags, _) =>
        qtags.map(t => statsMap.getOrElse(t, 0L)).min < plannerThresholdBp
    }
    val plannerGroups = plannerGraphQs
      .flatMap { case (qid, qv, qtags, _) =>
        // dense branch queries carry exactly one (frequent) tag; its
        // subindex exists because minFreqBp=500 < thresholdBp
        qtags.headOption.map(t => (t.toString, (qid, qv)))
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // the two branches run CONCURRENTLY (one future each): serialized
    // per-batch jobs idle the machine through each branch's tail — at 10M
    // the r10 planner read 365 q/s with spread 3.12 against a pure-subindex
    // row at 856, when a mixed batch should approach the branch blend. The
    // scan branch saturates on its own (cpu_frac 0.87 at 10M), so the graph
    // branch keeps its stripes and they interleave in the task scheduler.
    def plannerBatch(): (Array[(Long, Long, Double, Long)],
                         Array[(Long, Long, Double, Long)]) = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val fa = scala.concurrent.Future {
          filterServed.probeBatch(plannerScanQs, k = 10)
        }(ec)
        val fb = scala.concurrent.Future {
          tagRegistry.probeGroupsBatch(plannerGroups, k = 10,
            efSearch = sub.knob, slices = subSlices)
        }(ec)
        import scala.concurrent.duration.Duration
        (scala.concurrent.Await.result(fa, Duration.Inf),
          scala.concurrent.Await.result(fb, Duration.Inf))
      } finally pool.shutdown()
    }
    reg.register("filtered_knn_planner", nq) {
      val (a, b) = plannerBatch()
      require(a.nonEmpty && b.nonEmpty)
    }.withOp("filtered_knn_planner_scan_queries" -> plannerScanQs.length,
      "filtered_knn_planner_graph_queries" -> plannerGraphQs.length)
      .withRecall("filtered_knn_planner" -> {
        val (a, b) = plannerBatch()
        rec(frame(a ++ b), operators.TagFilter.filteredKnn(plannerQ, tagged, 10))
      })

    // filter track, BUCKETED layout (J8 dataflow form): tag-partitioned
    // parquet + static partition pruning — each query batch reads ONLY its
    // buckets' directories. Write untimed (layout cost is the build);
    // the timed unit is the pruned-scan dataflow, the honest disk-resident
    // comparison point next to the RAM-resident rows above.
    val bucketPath = java.nio.file.Files
      .createTempDirectory("graft-bench-buckets").resolve("emb").toString
    operators.TagBuckets.writeBucketed(tagged, bucketPath)
    val bucketQ = operators.TagFilter.tagQueries(emb, nq)
    reg.register("filtered_knn_bucketed", nq) {
      noop(operators.TagBuckets.bucketedFilteredKnn(spark, bucketPath,
        bucketQ, k = 10))
      spark.sqlContext.clearCache()
    }.withRecall("filtered_knn_bucketed" -> 1.0)
    }

    // sparse track: budgeted MIPS over term-frequency vectors. The budget
    // sweep is the reference's swept linscan budget
    // (sparse/linscan/config.yaml:36, 5–500 ms → our top-m bound); recall
    // is vs the UNtruncated exact MIPS answer per operating point. The top
    // point is m = |docs| — no truncation, recall exactly 1.0 — so the
    // sweep always contains a ≥0.9 point, and the SERVED headline runs
    // the matched-recall pick: BASELINE's sparse row is "QPS at ≥90%
    // recall", so a headline at an unmatched budget point is not
    // comparable to it. The synthetic tf corpus is tie-heavy, so small
    // budgets trade recall much more steeply here than SPLADE weights
    // would — the curve makes that explicit.
    if (trackOn("sparse")) {
    val tf = operators.Sparse.fromTermFreq(Tables.documents(spark, sfDir))
    val nDocs = Tables.documents(spark, sfDir).count()
    val sparseNq = math.min(200L, nDocs / 2).toInt
    val sparseQueries = tf.where(col("id") < sparseNq)
      .select(col("id").as("qid"), col("dim"), col("v").as("qv"))
    val sqs = tf.where(col("id") < sparseNq)
      .select(col("id").cast("long"), col("dim").cast("string"),
        col("v").cast("long"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (qid, rows) => (qid, rows.map(_._2), rows.map(_._3)) }
    // SERVING form: the FULL inverted file pinned resident (linscan's
    // shape — the index is whole, the budget is query-time), swept over
    // the IMPACT-ORDERED per-(query, shard) accumulation budget
    // (linscan.py:19-56's budget semantics as deterministic work instead
    // of wall-clock). r9's m-truncation sweep never actually truncated at
    // matched recall — weight-blind top-m drops ties by id, so recall@0.9
    // only existed at m = |docs| and QPS scaled linearly down; the
    // impact-ordered budget spends the scan on the large qv·v products
    // first, which is what lets a partial scan hold 0.9.
    // shard count floors at the core count, NOT the corpus-relative
    // serveShards: postings scan work is per-shard-local and queries
    // broadcast to every shard anyway, so more shards = more parallelism
    // at equal total postings — the r10 200k-doc row ran cpu_frac 0.35
    // on serveShards = 12 of a 32-core box for no volume reason
    // forward = true: the serving kernel is the r13 two-stage form
    // (budgeted candidate walk + exact rerank from the per-shard forward
    // index — see probeBatch's scaladoc); the truth probe below still
    // runs the one-stage exact walk (budget = MaxValue, rerank = 0),
    // bit-equal to Sparse.mips as before
    val sparseServed = index.ResidentPostings.load(tf, m = nDocs.toInt,
      numPartitions = math.max(serveShards, cpus.toInt), forward = true)
    deferUnload(sparseServed.unload())
    // truth = the resident probe at full budget: bit-equal to the exact
    // dataflow join `Sparse.mips` (SparseSpec row-parity + the
    // CORRECTNESS oracle on sparse_impact_budget_exact) at none of its
    // cost — the dataflow form explodes queries × matched postings
    // through a shuffle, which at 5M Zipf docs spilled >60 GB and killed
    // the r11 first run; the resident walk is posting-bounded per shard
    // and shuffles nothing
    val truth = localTruth(sparseServed.probeLocal(sparseQueries, 10))
    // the recall truth is the system's own full-budget
    // resident probe (bit-equal to the Sparse.mips dataflow by SparseSpec
    // + the oracle gate, at none of its shuffle cost) — anchor it here
    // against the INDEPENDENT dataflow join on a 2-query sample so a
    // scale- or shard-layout-dependent bug in the exact walk cannot
    // self-grade as recall 1.0. Sampled, so the check never re-creates
    // the >60 GB shuffle that motivated the swap.
    locally {
      def ranked(df: DataFrame) = df.where(col("qid") < 2)
        .select(col("qid").cast("long"), col("id").cast("long"),
          col("rank").cast("long"))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
      val want = ranked(operators.Sparse.mips(
        sparseQueries.where(col("qid") < 2), tf, 10))
      val got = ranked(truth)
      require(got == want,
        s"resident sparse truth diverges from Sparse.mips on the sample: " +
          s"got ${got.take(5)}... want ${want.take(5)}...")
      spark.sqlContext.clearCache()
    }
    // top anchor = the largest shard's whole posting mass: exact on
    // every shard by construction (accumulate's fast path), so the
    // sweep always contains a recall-1.0 point and the headline's
    // matched-recall pick always exists. The grid is dense between
    // full/4 and full — that is where the matched-recall point lives on
    // this tie-heavy corpus, and a 4× gap there forced the r10 pick to
    // degenerate to the full anchor.
    val full = sparseServed.maxShardPostings()
    // the sweep knob (and the headline's op record) is an Int; a shard
    // holding > 2^31 postings must fail loudly here, not collapse
    // distinct budgets into one knob key
    require(full <= Int.MaxValue.toLong,
      s"per-shard posting count $full exceeds the Int sweep-knob domain; " +
        "raise numPartitions so shards stay below 2^31 postings")
    // every SERVED sweep point runs the
    // two-stage kernel — budgeted impact walk nominates the top
    // `sparseRerankC` candidates per (query, shard), the forward index
    // scores them exactly. The r12 one-stage pick sat at 57% of the
    // shard's postings because tie-heavy PARTIAL sums misrank inside the
    // candidate set, not because the top docs' postings run that deep —
    // exact rerank removes the misranking, so the matched-recall budget
    // falls and the grid extends correspondingly far down. The top
    // anchor (budget = full) is exact-by-construction in BOTH kernels
    // (at full budget partial scores are already exact), so the sweep
    // still always contains a recall-1.0 point.
    val budgets = Seq(full / 4096, full / 1024, full / 256, full / 64,
      full / 16, full / 8, full / 4, full * 3 / 8, full / 2,
      full * 3 / 4, full)
      .map(b => math.max(b, 64L)).distinct.sorted.map(_.toInt)
    reg.sweepPick("sparse_budget_served", "budget")(budgets, sparseNq,
      b => rec(sparseServed.probeLocal(sparseQueries, 10, budget = b,
        rerank = sparseRerankC), truth)) { b =>
      probe(sqs, sparseServed.numShards)(st => sparseServed.probeBatch(st,
        k = 10, budget = b, rerank = sparseRerankC))
    }.row.withOp("sparse_budget_served_rerank" -> sparseRerankC)
    // DATAFLOW row: the full Spark-plan form of the build-time-truncation
    // operator (SparseSpec asserts row-parity with the resident form at
    // equal m). It is a PLAN-OVERHEAD diagnostic, not the
    // baseline-comparable row — the served row above it is — so it stays
    // at the oracle gate's diagnostic budget (16·scale): one batch of the
    // untruncated dataflow join is minutes of wall at 100× rows, all of
    // it re-measuring the same linear-scan physics the served row already
    // prices.
    // bounded at 1M docs: each timed batch of the dataflow form is a
    // queries × truncated-postings shuffle (≈ dims·m rows per query —
    // tens of GB per batch at 5M Zipf docs with the corpus-relative m),
    // re-measuring plan overhead the small SFs already price; the served
    // row above is the baseline-comparable one at every decade
    if (nDocs <= 1000000L)
      reg.register("sparse_budget", sparseNq) {
        noop(operators.Sparse.budgetedMips(sparseQueries, tf, k = 10,
          m = 16 * knobScale))
        spark.sqlContext.clearCache()
      }
    }

    // ood/ann track: EXECUTOR-RESIDENT HNSW probe — build once (untimed),
    // then narrow probe-only batches: the serving operating point. Measured
    // under both metrics — L2 and the OOD track's max-inner-product.
    // Recall vs exact is reported alongside QPS (the BASELINE rows are
    // themselves @0.9 recall), so the throughput/recall pair is explicit.
    // serveShards graph partitions (corpus-relative, floor 8 — not
    // `cpus`): partition count is the SCALE-OUT axis, but every query
    // probes every graph, so serving wants the fewest partitions that
    // still fill the cluster — measured 2× QPS vs 32 tiny graphs at
    // sf0.1 (each probe batch = 2 stages either way).
    // Sweeps are an ABSOLUTE ef grid (graph beams grow ~log n for fixed
    // recall, so an absolute grid spans the 0.9 point at every benched
    // scale — measured: ef=24 clears 0.904 at 10× rows where the old
    // corpus-relative 16·scale point cost 2.5× the matched-recall QPS for
    // recall 0.9998); the headline runs the auto-picked matched-recall
    // point (see pickKnob).
    // grid extends corpus-relative past 1M rows (the sf10-xgrid treatment,
    // next decade): on the uniform shell the matched-recall beam grows with
    // near-tie density — ef=128 read 0.686 at 2M rows while ef=96 already
    // cleared 0.9068 at 200k — so the absolute grid must reach the ~2×-per-
    // decade beam (256–512 at 2M) or the family's recall ceiling binds at
    // the grid, not the algorithm. Sub-1M corpora keep the r8 grid exactly.
    val graphSweepEfs = Seq(8, 16, 24, 32, 48, 64, 96, 128) ++
      (if (n >= 1000000L) Seq(256, 512) else Seq.empty)
    // Concurrent-job striping stays: a one-job in-task fan-out (parts ×
    // stripes tasks in ONE job) read SLOWER on the graph track (12.5k →
    // 10.6k q/s; batch medians 47.7 → 49.5 ms at ef8, 48.7 → 57.3 ms at
    // ef32) — the sf0.1 floor is per-TASK event-loop bookkeeping (64
    // launches either way), which concurrent jobs already pipeline, not the
    // per-job submit. Dropping the per-batch tombstone/delta broadcasts
    // (2 creations + 2 blocking destroys per stripe) cut the striped batch
    // from 65.8 to 48.7 ms at ef32; a batch now ships one broadcast.
    def graphFamily(family: String, metric: String, truth: => DataFrame): Int = {
      val resident = index.HnswKnn.buildResident(base,
        numPartitions = serveShards, metric = metric)
      deferUnload(resident.unload())
      reg.sweepPick(family, "efSearch")(graphSweepEfs, nq,
        ef => rec(resident.probeLocal(queries, 10, ef), truth)) { ef =>
        probeF(serveShards)(st => resident.probeBatch(st, k = 10, efSearch = ef))
      }.knob
    }
    val efL2 =
      if (trackOn("graph")) graphFamily("ann_hnsw_probe", "l2", truthL2) else 0
    if (trackOn("graph")) graphFamily("ann_hnsw_probe_ip", "ip", truthIp)

    // late-interaction (MaxSim) serving: one routed token-graph probe batch
    // + the MaxSimServe reduce per query-bag batch — no corpus re-score
    // (the ColBERT serving shortcut; past MaxSimServe's volume/partition
    // bounds the reduce is fully distributed — the corpus-relative c knob
    // at 10× rows pushes the pre-merge candidate stream past what a
    // driver-side reduce can absorb, which is exactly when the distributed
    // regime pays). Scores are lower bounds, so recall vs the exact maxsim
    // ranking is reported alongside. 4-vector docs, 2-vector queries over
    // the SAME flat corpus the ip row probes.
    if (trackOn("maxsim")) {
    val nqB = math.min(250L, n / 4).toInt
    val qbags = operators.MultiVec
      .bagged(base.where(col("id") < 2L * nqB), 2, "qid")
      .select(col("qid"), col("pos"), col("vec").as("qvec"))
    val maxsimQs = qbags.select((col("qid") * 2 + col("pos")).cast("long"), col("qvec"))
      .as[(Long, Array[Float])].collect()
    // r13 (VERDICT r12 item 3, carried from r11): candidate generation is a
    // TOKEN-IVF — doc tokens k-means-clustered once into an ip-metric
    // HnswRouted at the routed family's granularity (C ≈ n/500, ~500
    // tokens per cell graph), each query vector routed to the cells that
    // jointly hold ~4·c tokens of probed mass and taking its top-c hits
    // from those graphs alone (MaxSimServe.probeBatchRouted). The flat
    // form's matched-recall c grew ~linearly with the corpus (r7
    // measurement; r11 sf1 ran c = 1,280 at 10× rows) because a flat beam
    // must out-rank every background token globally; routed, BOTH the hit
    // count c and the probed token mass (nprobe·n/C ≈ 4c) are absolute —
    // candidates per query independent of corpus size, which is the knob's
    // asymptote fix, not a constant-factor. nprobe is derived, not swept:
    // ceil(4c·C/n) cells ≈ 4c probed tokens at every scale (falls to the
    // floor of 2 at the big decades; degenerates to the full fan-out when
    // 4c approaches n — the small-SF anchor, where routing can't lose).
    val tokCells = math.max(8L, n / 500L).toInt
    val maxsimPath = java.nio.file.Files
      .createTempDirectory("graft-bench-maxsim").resolve("idx").toString
    index.HnswRouted.buildAndSave(base, maxsimPath, c = tokCells,
      kmIters = 3, metric = "ip", atScale = true, n = n)
    val tokRouted = index.HnswRouted.loadResident(spark, maxsimPath)
    deferUnload(tokRouted.unload())
    def maxsimNprobe(c: Int): Int =
      math.min(tokCells,
        math.max(2, math.ceil(4.0 * c * tokCells / n).toInt))
    def maxsimBatch(qs: Array[(Long, Array[Float])], c: Int) =
      index.MaxSimServe.probeBatchRouted(tokRouted, qs, qmax = 2, bmax = 4,
        k = 10, c = c, efSearch = c, nprobe = maxsimNprobe(c))
    // hit-count sweep: c (merged hits per query vector) stays the
    // shortcut's recall knob — more hits = fewer missing (qvec, doc)
    // pairs — but the grid is now ABSOLUTE: the routed backend holds the
    // candidate neighborhood (probed mass ∝ c) fixed across scales, so the
    // matched-recall point no longer needs corpus-relative escalation. The
    // top point's nprobe saturates at the full fan-out on small corpora —
    // the guaranteed-recall anchor, same role as the other families'
    // degenerate sweep ends. The HEADLINE runs the matched-recall pick
    // (BASELINE rows are @≥0.9 recall). Exact maxsim truth collected ONCE
    // to a local relation; every recall eval reuses it.
    val truth = localTruth(operators.MultiVec.maxSimJoin(
      qbags, operators.MultiVec.bagged(base, 4, "doc_id"), 10)
      .withColumnRenamed("doc_id", "id"))
    // group-keyed striping (guide §2.6, same shape as the other families):
    // a MaxSim batch's composite query vectors (qid·qmax + pos) must stay
    // together — the per-query score sums over all positions — so stripes
    // split on the DOC-query id, not the array index; rows identical
    // (per-query results are independent, asserted in KnnSpec)
    val ms = reg.sweepPick("maxsim_served", "c")(Seq(32, 64, 128, 256, 512),
      nqB, c => rec(frame(maxsimBatch(maxsimQs, c)), truth)) { c =>
      require(index.ProbeSlices.stripedBy(maxsimQs,
        slices(tokCells, maxsimQs.length))(_._1 / 2)(
        maxsimBatch(_, c))(r => (r._1, r._4)).nonEmpty)
    }
    ms.row.withOp("maxsim_served_nprobe" -> maxsimNprobe(ms.knob),
      "maxsim_C" -> tokCells)
    // the exact token-join anchor, TIMED alongside the served row: every
    // (qtoken, doctoken) pair scored — the verify-stage dataflow whose QPS
    // the served shortcut must beat for the shortcut to exist at all. The
    // served-vs-exact ratio is then an in-artifact fact instead of a
    // cross-file comparison (r10 verdict item 8's grading shape).
    reg.register("maxsim_exact_join", nqB) {
      noop(operators.MultiVec.maxSimJoin(
        qbags, operators.MultiVec.bagged(base, 4, "doc_id"), 10))
      spark.sqlContext.clearCache()
    }
    }

    // quantized serving form: PQ codes pinned resident (m·2 bytes/row — the
    // memory shape that still fits at 100 TB), ADC gather-scan + in-shard
    // float re-rank. Trained codebook (ONE train, shared with the ivfadc
    // row below — identical parameters), so recall is reported alongside.
    val benchC = index.IvfIndex.autoC(n)
    val routeC = 65536
    if (trackOn("ivf")) {
    // SPARK_GRAFT_IVF_FAMILIES=adc,ivfadc,residual,sq8,route restricts the
    // ivf track to the named sub-families (unset = all). Same rationale as
    // SPARK_GRAFT_TRACKS, one level down: at the 10M decade a single flat-
    // ADC recall eval is a full-corpus code scan × 500 queries (~minutes),
    // so a follow-up run chasing ONE family's operating point (the r9
    // uniform graphroute re-grid) shouldn't re-pay every other family's
    // sweep. A filtered artifact names the families in its env block.
    val ivfFams = sys.env.get("SPARK_GRAFT_IVF_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def famOn(f: String): Boolean = ivfFams.forall(_.contains(f))
    // shared fixtures build lazily: ONE pq train serves adc + ivfadc, ONE
    // k-means serves ivfadc/residual/sq8 — and a family filter that uses
    // neither pays for neither
    lazy val pqCb = index.Pq.train(base, m = 8, ksub = 32, iters = 3)
    // the flat-ADC family is bounded at the 2M decade: its refine budget is
    // corpus-relative (false positives of fixed-precision codes grow with
    // the scanned population — the escalation grid below), and at 10M the
    // escalated point read 27 q/s @ 0.921 with rerank 2,560 while
    // IVFADC-residual held 114.8 @ 0.9022 — the routed composition
    // dominates flat ADC at every decade ≥ 2M, so the un-routed full-corpus
    // code scan stops being a headline row there and its bench wall goes to
    // the scale runs instead (r10 verdict item 6).
    if (famOn("adc") && n <= 2000000L) {
    val adcServed = index.ResidentCodes.loadAdc(base, pqCb, numPartitions = serveShards)
    deferUnload(adcServed.unload())
    // refine-budget sweep: rerank is the ADC knob (faiss's k_factor·k).
    // The r8 grid was a FIXED 20–640, and at 10M uniform rows the family
    // ceilinged at 0.5416 @640: the candidates the refine must separate are
    // false positives of the fixed-precision codes, and their count grows
    // with the scanned population (full-n here), so the needed budget is
    // corpus-relative, not absolute. The grid therefore ESCALATES — keep
    // doubling the top point while the best recall is < 0.9 AND still
    // improving ≥ 0.005/doubling (the plateau guard: past the code's own
    // error floor more refine buys nothing and the family's scaladoc regime
    // bound applies). Refine cost is rerank·d flops/query — even 20k is
    // small next to the full-corpus code scan, so escalation trades nothing.
    def adcRecall(r: Int) =
      rec(adcServed.probeLocal(queries, 10, rerank = r), truthL2)
    val adcGrid = ArrayBuffer(Seq(20, 40, 80, 160, 320, 640).map { r =>
      r -> adcRecall(r)
    }: _*)
    var guard = 0
    var go = adcGrid.last._2 < 0.9
    while (go && guard < 5) {
      val (r, prev) = adcGrid.last
      val rc = adcRecall(r * 2)
      adcGrid += ((r * 2, rc))
      go = rc < 0.9 && rc >= prev + 0.005
      guard += 1
    }
    reg.sweepPick("ann_adc_served", "rerank")(adcGrid.map(_._1).toSeq, nq,
      adcGrid.toMap) { r =>
      probeF(serveShards)(st => adcServed.probeBatch(st, k = 10, rerank = r))
    }
    }
    // the baseline's routed composition (IVF route × resident codes × float
    // refine): coarse quantizer at the corpus-relative auto-C (≈4√n, the
    // faiss sizing guideline the reference's IVF16384-on-10M sits inside)
    // and the routing knob a corpus FRACTION — minMassPct is swept and the
    // headline runs the matched-recall pick (the r7 bench pinned C=8 and
    // nprobe=6, i.e. a fixed 75% of ANY corpus — the 13–15× collapse at
    // 10× rows). rerank is the refine budget — ABSOLUTE, like faiss's
    // k_factor: it corrects quantization error, which does not grow with
    // corpus size; SQ8 needs less of it than the coarser PQ codes.
    // floor at 1%: the 2M-row decade's 5% floor over-delivered recall
    // 0.994 on sq8/residual — like the routed grid, the mass floor must
    // sit below the previous decade's matched pick or the next decade's
    // pick can't exist (routeByMass always takes >= 1 cluster, so tiny
    // fractions stay well-defined at small C)
    val ivfMassPcts = Seq(1, 2, 3, 5, 8, 15, 25, 35, 50, 75, 100)
      .filter(_ <= sweepCapPct)
    // returns the headline pick and the final refine budget
    def ivfMassFamily(family: String, rerankKey: String, rerank: Int,
                      local: (Double, Int) => DataFrame,
                      batch: (Double, Int) => Unit): (Pick, Int) = {
      def grid(r: Int) =
        ivfMassPcts.map(p => p -> rec(local(p / 100.0, r), truthL2))
      // the refine budget is what binds at large n: the code scan's false
      // positives grow with the SCANNED POPULATION (mass·n), so a fixed
      // rerank floods as either knob grows — r8 measured raw-ADC recall
      // FALLING with mass at rerank=640 at 10M rows (0.4178 @5% → 0.3916
      // @25%) and the r8 2×-then-4× escalation ceilinged at 0.42/0.57.
      // Escalation is therefore (a) deeper — up to 6 doublings, 160→10,240
      // — and (b) probed on the LARGEST swept mass point only (recall at
      // fixed rerank is maximized where the candidate pool is biggest OR
      // flooded — either way the top point tells whether more refine still
      // buys recall), with a plateau guard (< 0.005/doubling = the code's
      // own error floor; the family then formally defers to SQ8/residual,
      // whose codes hold 0.93+ on the same sweeps). The full mass grid is
      // graded ONCE at the final rerank, so the published sweep charts the
      // mass knob at the headline's actual refine budget (in the op block).
      var rr = rerank
      var recalls = grid(rr)
      if (recalls.iterator.map(_._2).max < 0.9) {
        val topPct = ivfMassPcts.max
        var best = recalls.iterator.map(_._2).max
        var guard = 0
        var go = true
        while (go && guard < 6 && best < 0.9) {
          val next = rec(local(topPct / 100.0, rr * 2), truthL2)
          if (next >= best + 0.005 || next >= 0.9) { rr *= 2; best = next }
          else go = false
          guard += 1
        }
        if (rr != rerank) recalls = grid(rr)
      }
      val rrF = rr
      val p = reg.sweepPick(family, "minMassPct")(ivfMassPcts, nq,
        recalls.toMap)(pct => batch(pct / 100.0, rrF))
      p.row.withOp(rerankKey -> rrF, "ivf_C" -> benchC)
      (p, rrF)
    }
    // buildAtScale: sampled Lloyd training (graph-assigned past C=2048)
    // + an EXACT full assignment pass — at C < 2048 and benched corpus
    // sizes through sf10 this is byte-identical to the exact build; at
    // sf100+ the sampled training keeps the per-iteration O(n·C·d)
    // passes off the fixture wall-clock while the one exact assignment
    // preserves routing recall (r9: graph-assigning the full pass cost
    // 3x matched-recall mass on every IVF family — see the scaladoc)
    lazy val benchIvf =
      index.IvfIndex.buildAtScale(base, c = benchC, iters = 3, n)
    if (famOn("ivfadc")) {
      val served = index.ResidentCodes.loadIvfAdc(base, benchIvf, pqCb,
        numPartitions = serveShards)
      deferUnload(served.unload())
      ivfMassFamily("ann_ivfadc_served", "ivf_rerank_adc", 160,
        (mm, r) => served.probeLocalMass(queries, 10, mm, r),
        (mm, r) => probeF(serveShards)(st => served.probeBatchMass(st, 10, mm, r)))
    }
    // residual variant of the same composition — faiss's TRUE IVFPQ (codes
    // quantize x − centroid; probes assemble per-(query, cluster) LUTs
    // shard-side from the load-time precomputed tables). Same knobs as the
    // raw-coded row above so the two are directly comparable (the residual
    // codes buy recall at the same (m, ksub) byte budget); ONE k-means
    // training serves all three IVF rows (buildResidualWith).
    if (famOn("residual")) {
      val ivfPqRes = index.IvfPq.buildResidualWith(benchIvf, base, m = 8,
        ksub = 32, iters = 3)
      val served = index.ResidentCodes.loadIvfResidual(base, ivfPqRes,
        numPartitions = serveShards)
      deferUnload(served.unload())
      ivfMassFamily("ann_ivfadc_residual_served", "ivf_rerank_adc_residual",
        160, (mm, r) => served.probeLocalMass(queries, 10, mm, r),
        (mm, r) => probeF(serveShards)(st => served.probeBatchMass(st, 10, mm, r)))
    }
    // the reference baseline's LITERAL composition (`IVF16384,SQ8`,
    // filter/faiss/config.yaml:50-53) served resident: IVF routing ×
    // SQ8 integer scan × exact float re-rank — the row BASELINE.md's
    // filter-track 3,200 QPS actually ran on. Same routing knob and sweep
    // as the ADC rows; the scan reads 1 byte/component (the compression
    // that fits the reference's 10M×192 corpus in RAM); the near-lossless
    // SQ8 codes need only rerank=80 where PQ needs 160.
    if (famOn("sq8")) {
    val (sq8Mins, sq8Spans) = index.Sq8.train(base)
    val ivfSq8Served = index.ResidentCodes.loadIvfSq8(base, benchIvf, sq8Mins,
      sq8Spans, numPartitions = serveShards)
    deferUnload(ivfSq8Served.unload())
    val (sq8, sq8Rerank) = ivfMassFamily("ann_ivfsq8_served",
      "ivf_rerank_sq8", 80,
      (mm, r) => ivfSq8Served.probeLocalMass(queries, 10, mm, r),
      (mm, r) => probeF(serveShards)(st =>
        ivfSq8Served.probeBatchMass(st, 10, mm, r)))
    // GRAPH-routed coarse quantizer on the same served form (HNSW over the
    // centroids — faiss's IVF_HNSW shape): replaces the O(C·d) linear rank
    // with an O(efRoute·log C) beam. At benched C (autoC: 179–1,789) the
    // routing term is a small slice of the probe, so this family shows QPS
    // ~parity with the linear row at matched recall — the asymptotic win
    // is the route_* microbench below, at the C the 100 TB regime implies.
    // Swept knob: efRoute (ABSOLUTE — beam width grows ~log C, not with
    // corpus mass). Headline = matched-recall pick at the linear family's
    // picked mass fraction.
    // grid extends to C/8-ish at large C: byMassGraph can route to at most
    // efRoute clusters, so once the linear family's mass pick needs more
    // clusters than the beam returns (10M uniform: 15% of C=12,650 ≈ 1,898
    // > 128) every swept point under-routes and the family's recall
    // ceiling binds at the grid, not the algorithm. Sub-256 corpora keep
    // the r8 grid exactly (filter < benchC), so sf0.1 rows are unchanged.
    val graphEfs = Seq(8, 16, 32, 64, 128, 256, 512, 1024, 2048)
      .filter(_ < benchC)
    val mass = sq8.knob / 100.0
    reg.sweepPick("ann_ivfsq8_graphroute_served", "efRoute")(graphEfs, nq,
      ef => rec(ivfSq8Served.probeLocalMass(queries, 10, mass, sq8Rerank,
        efRoute = ef), truthL2)) { ef =>
      probeF(serveShards)(st => ivfSq8Served.probeBatchMass(st, 10, mass,
        sq8Rerank, efRoute = ef))
    }
    }
    // router scaling microbench: routing-only batches against a synthetic
    // C = 2^16 coarse quantizer (the regime autoC implies at ~2.7e8 rows;
    // IVF16384 is one decade below). The served rows above can't show the
    // router's asymptote — at benched corpus sizes the scan dominates —
    // so this pair measures the router term itself: linear rank O(C·d) vs
    // graph beam O(efRoute·log C) on the same centroids, same queries,
    // both on client threads. The graph row's top-16 agreement vs the
    // linear rank is published as its recall.
    if (famOn("route")) {
    val routeCents = Array.tabulate(routeC) { c =>
      val rnd = new scala.util.Random(0xC0FFEE ^ c)
      (c, Array.fill(qsFloat.head._2.length)(rnd.nextGaussian().toFloat))
    }
    val microRouter = new index.CoarseRouter(routeCents,
      routeCents.map { case (c, _) => c -> 1L }.toMap)
    def linear() = index.Router.parallelMap(qsFloat)(q =>
      microRouter.byNprobe(q._2, 16))
    def graph() = index.Router.parallelMap(qsFloat)(q =>
      microRouter.byNprobeGraph(q._2, 16, 64))
    val routeAgree = linear().zip(graph()).map { case (a, b) =>
      a.intersect(b).length / 16.0 }.sum / qsFloat.length
    reg.register("route_linear_c65536", nq)(require(linear().nonEmpty))
    reg.register("route_graph_c65536", nq)(require(graph().nonEmpty))
      .withOp("route_micro_C" -> routeC)
      .withRecall("route_graph_agreement" -> routeAgree)
    }
    }

    // binary sign-hash tier: ONE resident load (floats pinned) serves both
    // the codes-only exact Hamming scan row and the two-tier re-rank rows;
    // the ip-refine sweep loads its own (the refine metric is fixed at load)
    if (trackOn("hamming")) {
    val binServed = index.ResidentCodes.loadHamming(base,
      numPartitions = serveShards, pinFloats = true)
    deferUnload(binServed.unload())
    // codes-only exact Hamming scan — QPS plus binarization fidelity
    // (recall of Hamming top-10 vs float truth; the Hamming ranking itself
    // is exact, see knn_hamming's gate). Sign codes are angle-only (norms
    // are gone), so fidelity against the COSINE truth is the tier's
    // natural grade; L2 fidelity is reported too as the honest
    // cross-metric number. Each batch packs its queries' sign words on the
    // client inside the timed window.
    reg.register("hamming_served", nq) {
      probeF(serveShards)(st => binServed.probeBatchCodes(st, k = 10))
    }.withRecall(
      "hamming_served_l2_fidelity" -> rec(binServed.probeLocalCodes(queries, 10), truthL2),
      "hamming_served_cos_fidelity" -> rec(binServed.probeLocalCodes(queries, 10), truthCos))
    // two-tier resident: binary top-c first pass + in-shard float re-rank —
    // fidelity is vs exact float L2 (matched-recall picked c); the
    // ip-refine sweep grades the SAME two-tier probe against exact-MIPS
    // truth (the OOD track's metric — text2image-style serving)
    // candidate-budget sweep: c is the binary tier's recall knob; the
    // candidate set must cover a corpus-sized answer set, so
    // corpus-relative points ride alongside the absolute ones and the
    // HEADLINE runs the matched-recall pick (vs exact float L2)
    val cGrid = (Seq(25, 50, 100) ++
      Seq(25 * knobScale, 50 * knobScale, 100 * knobScale)).distinct.sorted
    reg.sweepPick("hamming_rerank_served", "c")(cGrid, nq,
      c => rec(binServed.probeLocal(queries, 10, rerank = c), truthL2),
      recallKey = "hamming_rerank_served_l2_fidelity") { c =>
      probeF(serveShards)(st => binServed.probeBatch(st, k = 10, rerank = c))
    }
    val ipServed = index.ResidentCodes.loadHamming(base,
      numPartitions = serveShards, pinFloats = true, metric = operators.Metric.Ip)
    deferUnload(ipServed.unload())
    reg.sweep("hamming_rerank_served_ip", "c")(cGrid, nq,
      c => rec(ipServed.probeLocal(queries, 10, rerank = c), truthIp)) { c =>
      probeF(serveShards)(st => ipServed.probeBatch(st, k = 10, rerank = c))
    }
    }

    // centroid-ROUTED resident graphs (IVF-of-HNSW): each query probes only
    // its routed clusters' graphs, so per-query work is independent of
    // shard count — the 1000-shard serving shape. C ≈ n/500 holds the
    // within-cluster graphs at the reference's ~600 points per cluster
    // (IVF16384 over 10M, config.yaml:50) at EVERY scale, so the beam is
    // an absolute knob (a ~500-node graph saturates by ef≈64). On this
    // UNCLUSTERED synthetic corpus routing trades recall steeply (real
    // embedding corpora cluster; this one is near-uniform), so both
    // routing knobs are swept and the headlines run the measured
    // matched-recall picks — knob, cost, and recall all explicit.
    val routedC = math.max(8L, n / 500L).toInt
    val routedEf = 64
    if (trackOn("routed")) {
    val routedPath = java.nio.file.Files.createTempDirectory("graft-bench-rt")
      .resolve("idx").toString
    index.HnswRouted.buildAndSave(base, routedPath, c = routedC, kmIters = 3,
      atScale = true, n = n)
    val routed = index.HnswRouted.loadResident(spark, routedPath)
    deferUnload(routed.unload())
    // fixed-count routing swept as cluster FRACTIONS of C (a raw nprobe
    // is meaningless across scales); the recorded knob is the count
    // floor at C/64: the 2M-row decade showed C/16 (6.25% of clusters)
    // already over-delivering recall 0.997 — the matched-recall fraction
    // keeps FALLING with n, so the grid must reach below wherever the
    // last decade's pick landed for the next decade's pick to exist.
    val routedNps =
      (Seq(64, 32, 16, 8).map(routedC / _) ++
        Seq(1, 2, 3, 4).map(i => routedC * i / 4))
        .map(math.max(1, _)).distinct.sorted
        .filter(np => np * 100L <= sweepCapPct.toLong * routedC || np <= 1)
    reg.sweepPick("ann_hnsw_probe_routed", "nprobe")(routedNps, nq,
      np => rec(routed.probeLocal(queries, 10, routedEf, nprobe = np),
        truthL2)) { np =>
      probeF(routedC)(st => routed.probeBatch(st, k = 10, efSearch = routedEf,
        nprobe = np))
    }.row.withOp("routed_C" -> routedC, "routed_efSearch" -> routedEf)
    // mass-adaptive routing on the same index: the knob is a corpus
    // fraction, so per-query probe counts adapt to cluster skew instead
    // of over/under-probing at a fixed nprobe. Swept over minMass (per
    // cent, to keep the sweep schema integer-knobbed like the others).
    val routedAutoPcts = Seq(3, 5, 10, 15, 25, 50, 75, 90)
      .filter(_ <= sweepCapPct)
    reg.sweepPick("ann_hnsw_probe_routed_auto", "minMassPct")(routedAutoPcts,
      nq, pct => rec(routed.probeLocalAuto(queries, 10, routedEf,
        minMass = pct / 100.0), truthL2)) { pct =>
      probeF(routedC)(st => routed.probeBatchAuto(st, k = 10,
        efSearch = routedEf, minMass = pct / 100.0))
    }
    }

    // COARSE-routed resident graphs — the OOD serving form (r12 item 1):
    // a few dozen k-means cells over the corpus, one LARGE HNSW per cell,
    // each query routed to its `nprobe` nearest cells' graphs. The
    // fine-grained routed family above (C ≈ n/500, the IVF granularity)
    // pays ~C/16 micro-probes per query at matched recall and its routing
    // rank dominates at 10M (r10: 65 q/s, cpu_frac 0.28); the flat family
    // (HnswKnn) pays P beams per query — every partition, every query.
    // DiskANN's 10M baseline row runs ONE graph and one beam per query
    // (ood/diskann/config.yaml:22-27); this form approaches that shape
    // from the sharded side: nprobe beams over n/C-node graphs, per-query
    // work independent of shard count. Two knobs, swept separately:
    // nprobe (the routing width — how many cells' graphs a query pays) at
    // an anchor beam, then efSearch at the matched nprobe.
    if (trackOn("coarse")) {
    val coarseC = sys.env.get("SPARK_GRAFT_COARSE_C").map(_.toInt)
      .getOrElse(math.max(8, math.min(64, (n / 150000L).toInt)))
    val coarsePath = java.nio.file.Files
      .createTempDirectory("graft-bench-coarse").resolve("idx").toString
    index.HnswRouted.buildAndSave(base, coarsePath, c = coarseC, kmIters = 3,
      atScale = true, n = n)
    val coarse = index.HnswRouted.loadResident(spark, coarsePath)
    deferUnload(coarse.unload())
    def coarseRecall(ef: Int, np: Int) =
      rec(coarse.probeLocal(queries, 10, ef, nprobe = np), truthL2)
    def coarseBatch(ef: Int, np: Int): Unit = probeF(coarseC)(st =>
      coarse.probeBatch(st, k = 10, efSearch = ef, nprobe = np))
    // anchor beam: the flat family's matched-recall decade point — per-cell
    // graphs hold ~n/C nodes, same absolute-grid physics as the flat grid
    val efBase = if (n >= 1000000L) 256 else 64
    val npRecalls = reg.sweep("ann_hnsw_probe_coarse", "nprobe")(
      Seq(1, 2, 3, 4, 6, 8).filter(_ <= coarseC), nq,
      coarseRecall(efBase, _))(coarseBatch(efBase, _))
    val np = pickKnob(npRecalls)
    // beam re-sweep at the picked routing width: once routing stops being
    // the recall ceiling the matched beam may sit below the anchor — the
    // efSearch curve is where the QPS headroom lives
    val efGrid = (Seq(48, 96, 128, 192, efBase) ++
      (if (n >= 1000000L) Seq(384, 512) else Seq.empty)).distinct.sorted
    reg.sweepPick("ann_hnsw_probe_coarse", "efSearch")(efGrid, nq,
      ef => if (ef == efBase) npRecalls.toMap.apply(np) else coarseRecall(ef, np),
      family = "ann_hnsw_probe_coarse_ef")(coarseBatch(_, np))
      .row.withOp("ann_hnsw_probe_coarse_nprobe" -> np, "coarse_C" -> coarseC)
    }

    // serving UNDER MUTATION — the steady state of the streaming track
    // between consolidations: a resident generation probed with a live
    // tombstone set (deletes since build, honored in-traversal) AND a
    // delta buffer (inserts since build, exact-scanned and merged). The
    // row shows what mutation costs relative to the clean probe.
    if (trackOn("graph")) {
    val mutCut = math.max(n / 20, 1L) // 5% of the corpus arrives post-build
    val mutTombHi = 2 * mutCut // and 5% of the built graph is deleted
    val mutResident = index.HnswKnn.buildResident(
      base.where(col("id") >= mutCut), numPartitions = serveShards)
    deferUnload(mutResident.unload())
    val mutDelta = base.where(col("id") < mutCut)
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()
    val mutDead = (mutCut until mutTombHi).toSet
    reg.register("ann_hnsw_probe_mutated", nq) {
      probeF(serveShards)(st => mutResident.probeBatch(st, k = 10,
        efSearch = efL2, mutDead, mutDelta))
    }.withRecall("ann_hnsw_probe_mutated" -> {
      val live = base.where(col("id") < mutCut || col("id") >= mutTombHi)
      rec(frame(mutResident.probeBatch(qsFloat, 10, efL2, mutDead, mutDelta)),
        operators.Knn.knnJoin(queries, live, 10, operators.Metric.L2))
    })
    }

    val stealPct = timeRows(reg.rows.toSeq)
    teardowns.foreach { td => try td() catch { case _: Throwable => () } }

    // streaming track (BASELINE row 4's unit — checkpoint recall + wall
    // time, not QPS): replay the in-repo delete_runbook fixture (the
    // reference's shape, not its bytes) scaled into this SF's id space and
    // grade every search checkpoint against the exact live-set kNN.
    // (mean recall, serve sec, grading sec, (checkpoint, recall bp), err)
    val stream = if (!trackOn("streaming")) None else Some(
      try {
        val yaml = streaming.Runbook.fixture("delete_runbook.yaml")
        // BASELINE row 4 grades the msturing-10M-clustered doc (32 ins /
        // 10 del / 33 search, max_pts 6M — scaled, so occupancy-triggered
        // consolidations fire at the same relative points)
        val rb = streaming.Runbook.scaled(
          streaming.Runbook.parseYaml(yaml)
            .find(_.dataset == "msturing-10M-clustered")
            .getOrElse(streaming.Runbook.parseYaml(yaml).head), n)
        val sq = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        // scale-aware serving policy: the tombstone-count consolidation
        // trigger and the delta cap are OUR policy knobs (maxPts occupancy
        // keeps the reference's semantics either way) — pinning them at
        // the tiny-SF defaults made EVERY delete consolidate and EVERY
        // insert overflow the delta at 2M+ rows, so the replay rebuilt
        // the whole live graph ~once per search (the r11 wall). Tombstones
        // are honored in-traversal and the delta serves exact, so recall
        // is unchanged; what scales is the driver-side mark set (n/8 ids)
        // and the delta broadcast (≤ n/8 rows), both bounded fractions of
        // a corpus the queries already broadcast against. Build shards =
        // serveShards (rebuild parallelism is the wall's dominant term).
        val (graded, serveSec, gradeSec) = streaming.RunbookReplay.gradedTimed(
          base, sq, rb, k = 10, efSearch = if (n >= 1000000L) 256 else 128,
          consolidateAt = math.max(1000L, n / 8),
          deltaCap = math.max(512L, n / 8),
          numPartitions = serveShards)
        // per-checkpoint recalls in the artifact, not just the mean — the
        // baseline grades a runbook by its checkpoint series
        // (streaming/run.py:55-56), so a scale artifact must show where in
        // the runbook recall dips, not only that the average held
        val cps = graded.select(col("checkpoint").cast("long"),
            col("recall_bp").cast("long"))
          .as[(Long, Long)].collect().sortBy(_._1)
        val r =
          if (cps.isEmpty) 0.0 else cps.map(_._2).sum.toDouble / cps.length / 10000.0
        (r, serveSec, gradeSec, cps, "")
      } catch { case e: Throwable =>
        // a broken replay must not publish mean_recall 0.0 as if measured
        // (r11 defect): the artifact carries the error, the zeros read as
        // "failed", and the rest of the run's rows still land
        (0.0, 0.0, 0.0, Array.empty[(Long, Long)], errText(e))
      }
      finally spark.sqlContext.clearCache())
    // the full object carries every checkpoint, the compact line their
    // count and minimum
    def streamField(full: Boolean): Seq[(String, Any)] = stream.toSeq.map {
      case (r, sec, gradeSec, cps, err) =>
        val recalls = cps.map(_._2 / 10000.0)
        "streaming_replay" -> obj(
          Seq("mean_recall" -> r, "sec" -> sec, "grading_sec" -> gradeSec) ++
          (if (full) Seq("checkpoints" -> cps.zip(recalls).map {
             case ((cp, _), rc) => obj(Seq("checkpoint" -> cp, "recall" -> rc))
           }.mkString("[", ",", "]"))
           else Seq("n_checkpoints" -> cps.length,
             "min_recall" -> (if (cps.isEmpty) 0.0 else recalls.min))) ++
          (if (err.isEmpty) Nil else Seq("err" -> str(err))))
    }

    val total = results.values.sum
    def env(fmt: Double => String): String = obj(Seq(
      "steal_pct" -> fmt(stealPct),
      "gc_retakes" -> reg.rows.map(_.gcRetakes).sum,
      "cpu_retakes" -> reg.rows.map(_.cpuRetakes).sum,
      "probe_slices" -> slices(serveShards, nq),
      "tracks" -> str(tracksLabel), "ivf_families" -> str(ivfFamsLabel)))
    val qpsJson = obj(reg.json ++ Seq("nq" -> nq, "reps" -> reps,
      "interleaved" -> true, "env" -> env(_.toString)) ++ streamField(true))
    val failedField: Seq[(String, Any)] =
      if (failed.isEmpty) Nil
      else Seq("queries_failed" -> obj(failed.map { case (k, v) => k -> str(v) }))
    val line = obj(Seq("metric" -> str("total"), "value" -> total,
      "unit" -> str("sec"), "queries" -> obj(results)) ++ failedField ++ Seq(
      "fixtures" -> obj(SparkEntry.fixtureSeconds),
      "batch_sec" -> obj(batchResults), "qps" -> qpsJson, "sf" -> str(sfDir)))
    // the whole object lands in a file the driver (or anyone) can read
    // intact, before anything is printed
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: $e")
    }
    println(line)
    // the per-round runner keeps only a ~2000-char stdout TAIL: the full
    // line above is ~10 KB, so the tail always cut it mid-object and every
    // BENCH_r0N.json carried "parsed": null. A second SELF-CONTAINED
    // compact line prints LAST so the tail always ends with one complete
    // parseable JSON line; the full object is the file write above.
    //
    // r13 (VERDICT r12 "What's wrong" #5): the r12 compact line elided the
    // per-query map entirely ("queries":{}), which left PERF's per_query
    // and scaling blocks permanently empty — the driver's regression
    // detection was blind per query. The full 131-entry map is ~3.1 KB and
    // cannot fit a ~2 KB tail, so the compact line now carries the SLOWEST
    // queries (2-decimal seconds, greedily added while the whole line stays
    // under `tailBudget` bytes — the slow rows are where a regression is
    // measurable; a 1-2 s sf0.1 row is schedule-floor noise, documented in
    // OPTIMIZATION_r12 "long tail") plus "queries_elided" naming the count
    // left only in the full file. The qps values are rounded to 0.1 and the
    // streaming checkpoints array (~1 KB at sf0.1 — what pushed the r12
    // compact line past 2 KB) is summarized to count/min; full-precision
    // values and the checkpoint list stay in the first line + the file.
    val tailBudget = 1900
    def r1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val compactQps = obj(
      reg.rows.filter(_.headline).map(r => r.name -> r1(r.qps)) ++
        Seq("nq" -> nq, "env" -> env(r1)) ++ streamField(false))
    def compactLine(queriesFrag: String, elided: Int): String =
      obj(Seq("metric" -> str("total"), "value" -> r1(total),
        "unit" -> str("sec"), "queries" -> s"{$queriesFrag}") ++
        (if (failed.isEmpty) Nil
         else Seq("queries_failed" -> failed.keys.map(str).mkString("[", ",", "]"))) ++
        Seq("queries_elided" -> elided, "sf" -> str(sfDir), "qps" -> compactQps,
        "full" -> str(outFile)))
    val slowestFirst = results.toSeq.sortBy(-_._2)
      .map { case (k, v) =>
        s"\"$k\":${"%.2f".formatLocal(java.util.Locale.ROOT, v)}"
      }
    val baseLen = compactLine("", slowestFirst.length).length
    val keep = {
      var used = baseLen
      var n0 = 0
      while (n0 < slowestFirst.length &&
             used + slowestFirst(n0).length + 1 <= tailBudget) {
        used += slowestFirst(n0).length + 1
        n0 += 1
      }
      n0
    }
    println(compactLine(slowestFirst.take(keep).mkString(","),
      slowestFirst.length - keep))
    spark.stop()
  }
}
