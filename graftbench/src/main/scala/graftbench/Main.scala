package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The closed loop: one client runs whole passes over the workload's fixed
  * item sequence until `seconds` have elapsed and at least `minPasses`
  * passes are done. Each item is timed alone; its check runs after the
  * clock stops. With a tracer, passes alternate untraced and traced, so
  * both halves see the same JVM state. */
object Harness {
  final case class Sample(kind: String, ms: Double, graded: Graded, traced: Boolean,
                          cpuNs: Long, gcMs: Long, allocBytes: Long)
  final case class Loop(samples: IndexedSeq[Sample], passMs: IndexedSeq[Double],
                        spark: Option[SparkTrace.Summary]) {
    def batches: IndexedSeq[Sample] = samples.filter(s => s.graded.queries > 0)
    def failed: Int = samples.count(!_.graded.ok)
  }

  def loop(w: Workload, seconds: Double, minPasses: Int = 1,
           tracer: Option[SparkTrace] = None): Loop = {
    val sc = w.ctx.spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.Map.empty[Long, (Long, Long)]
    val t0 = System.nanoTime()
    var broken = false
    var elapsed = 0.0
    do {
      val trace = tracer.filter(_ => passes.length % 2 == 1)
      trace.foreach(sc.addSparkListener)
      w.ctx.calls.enabled = trace.isDefined
      w.beginPass()
      var passMs = 0.0
      var i = 0
      while (!broken && i < w.passLength) {
        val item = samples.length.toLong
        trace.foreach(_.begin(item))
        val (c0, g0, a0) =
          if (trace.isDefined) (Jvm.cpuNs, Jvm.gcMs, Jvm.allocBytes) else (0L, 0L, 0L)
        val w0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val out = try Right(w.run(i)) catch { case e: Exception => Left(e) }
        val ms = (System.nanoTime() - s0) / 1e6
        val w1 = System.currentTimeMillis()
        val (c1, g1, a1) =
          if (trace.isDefined) (Jvm.cpuNs, Jvm.gcMs, Jvm.allocBytes) else (0L, 0L, 0L)
        trace.foreach { t => t.end(); windows(item) = (w0, w1) }
        val g = out match {
          case Right(o) =>
            try w.grade(i, o)
            catch { case e: Exception => Graded(ok = false, 0, 0.0, s"grading threw $e") }
          case Left(e) =>
            e.printStackTrace(System.err)
            broken = true // state after a failed call is undefined
            Graded(ok = false, 0, 0.0, s"${w.kind(i)} $i threw $e")
        }
        if (!g.ok) System.err.println(s"check failed: ${w.name} item $i: ${g.why}")
        samples += Sample(w.kind(i), ms, g, trace.isDefined, c1 - c0, g1 - g0, a1 - a0)
        passMs += ms
        i += 1
      }
      trace.foreach(sc.removeSparkListener)
      w.ctx.calls.enabled = false
      if (!broken) passes += passMs
      elapsed = (System.nanoTime() - t0) / 1e9
    } while (!broken && (elapsed < seconds || passes.length < minPasses))
    Loop(samples.toIndexedSeq, passes.toIndexedSeq,
      tracer.map(_.summarise(windows.toMap)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** The tail: the highest percentile with at least ten samples beyond it,
    * but never below p90 (under 100 samples no such percentile reaches it);
    * nearest rank. Returns (value, percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, Double.NaN, 0)
    else {
      val rank = math.max((9 * s.length + 9) / 10, s.length - 10) // 1-based
      (s(rank - 1), 100.0 * rank / s.length, s.length)
    }
  }
}

object Main {
  /** Fewest passes in the timed loop: a streaming pass (~2 s) has only four
    * searches, and three passes give the tail and runbook_s 12 and 3 samples. */
  val MinPasses = 3
  val Usage = "usage: graftbench.Main --workload <serving|streaming_runbook|" +
    "filter_planner|ood_interactive|sparse_mips> --seed <n> --seconds <s> --trace <0|1> " +
    "--work <dir> [--cores <n>] [--sweep knob=v1,v2,...]"

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val required = Seq("workload", "seed", "seconds", "trace", "work")
    if (!required.forall(opts.contains) || !Set("0", "1")(opts("trace"))) {
      System.err.println(Usage); sys.exit(2)
    }
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
    mark("session up")
    spark.sparkContext.setLogLevel("WARN")
    val code = try {
      val ctx = Ctx(spark, cores, opts("seed").toLong, opts("work"),
        new Calls(traced))
      val w: Workload = opts("workload") match {
        case "filter_planner" => new FilterPlanner(ctx)
        case "ood_interactive" => new OodInteractive(ctx)
        case "sparse_mips" => new SparseMips(ctx)
        case "serving" => new Mix(ctx, "serving",
          Seq(new OodInteractive(ctx), new FilterPlanner(ctx), new SparseMips(ctx)))
        case "streaming_runbook" => new StreamingRunbook(ctx)
        case other => System.err.println(s"unknown workload $other\n$Usage"); sys.exit(2)
      }
      try opts.get("sweep") match {
        case Some(sw) => sweep(w, sw)
        case None => measure(w, ctx, seconds, traced)
      } finally w.close()
    } finally spark.stop()
    sys.exit(code)
  }

  /** Knob sweep for re-measuring the frozen operating point: for each value
    * of one search knob, a setup and one checked pass. Prints one line per
    * value and no result line. */
  private def sweep(w: Workload, spec: String): Int = {
    val Array(key, values) = spec.split("=", 2)
    if (!w.knobs.contains(key)) {
      System.err.println(s"${w.name} has no knob $key; it has ${w.knobs.keys.mkString(", ")}")
      return 2
    }
    w.prepare()
    val ok = values.split(",").map { v =>
      w.setKnob(key, v.toLong)
      w.timedSetup()
      val l = Harness.loop(w, 0)
      val b = l.batches
      val recall = b.map(_.graded.recallSum).sum / b.map(_.graded.queries).sum
      println(f"sweep ${w.name} $key=$v recall_at_10=$recall%.4f " +
        f"min_recall_at_10=${b.map(x => x.graded.recallSum / x.graded.queries).min}%.4f " +
        f"batch_p50_ms=${Stats.median(b.map(_.ms))}%.1f failed=${l.failed}")
      l.failed == 0
    }
    if (ok.forall(identity)) 0 else 1
  }

  private def measure(w: Workload, ctx: Ctx, seconds: Double,
                      traced: Boolean): Int = {
    val g0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - g0) / 1e9
    mark("prepared")
    val setupS = w.timedSetup()
    mark("set up")
    val indexMb = w.indexMb
    val setupCalls = ctx.calls.names.map(nm => nm -> Stats.median(ctx.calls.samples(nm)))
    ctx.calls.clear()
    ctx.calls.enabled = false

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]

    // untimed passes first: JIT, codegen and lazy program state warm up
    // before anything is timed; their answers are still checked
    val warm = Harness.loop(w, w.warmupS)
    mark("warmed up")
    val loop =
      if (!traced) Harness.loop(w, seconds, MinPasses)
      else {
        val l = Harness.loop(w, seconds, MinPasses, Some(new SparkTrace(ctx.spark.sparkContext)))
        val tr = l.samples.filter(_.traced)
        val items = tr.length.toDouble
        val probes = w.probeCalls.flatMap(ctx.calls.samples)
        val s = l.spark.get
        def p50(traced: Boolean) =
          Stats.median(l.batches.filter(_.traced == traced).map(_.ms))
        out("index.probe.ms_p50") = (Stats.median(probes), "ms")
        out("index.probe.queries_per_call") =
          (w.probeCalls.map(ctx.calls.queries).sum.toDouble / math.max(1, probes.length), "count")
        out("index.setup_calls_s") = (setupCalls.map(_._2).sum / 1e3, "s")
        out("spark.jobs_per_batch") = (s.jobsPerItem, "count")
        out("spark.tasks_per_batch") = (s.tasksPerItem, "count")
        out("spark.sched_delay_ms_per_batch") = (s.schedDelayMs, "ms")
        out("spark.driver_ms_per_batch") = (s.driverMs, "ms")
        out("spark.task_run_ms_per_batch") = (s.taskRunMs, "ms")
        out("jvm.alloc_mb_per_batch") = (tr.map(_.allocBytes).sum / 1e6 / items, "MB")
        out("jvm.cpu_frac") = (tr.map(_.cpuNs).sum / 1e6 / (tr.map(_.ms).sum * ctx.cores), "ratio")
        // these read 0 in a quiet window (and the overhead can read below
        // it), so they are report lines rather than result metrics
        detail("spark.failed_tasks") = (s.failedTasks.toDouble, "count")
        detail("jvm.gc_ms_per_batch") = (tr.map(_.gcMs).sum / items, "ms")
        detail("trace.untraced_batch_p50_ms") = (p50(false), "ms")
        detail("trace.traced_batch_p50_ms") = (p50(true), "ms")
        detail("trace.overhead_ms_per_batch") = (p50(true) - p50(false), "ms")
        setupCalls.foreach { case (nm, ms) => detail(s"${nm}_s") = (ms / 1e3, "s") }
        w.classMb.foreach { case (cls, mb) => detail(s"$cls.mb") = (mb, "MB") }
        ctx.calls.names.foreach { nm =>
          val xs = ctx.calls.samples(nm)
          detail(s"$nm.ms_p50") = (Stats.median(xs), "ms")
          if (ctx.calls.queries(nm) > 0)
            detail(s"$nm.queries_per_call") = (ctx.calls.queries(nm).toDouble / xs.length, "count")
        }
        l
      }

    mark("measured")
    Seq("warm-up" -> warm, "timed" -> loop).foreach { case (what, l) =>
      System.err.println(s"graftbench: $what pass ms ${l.passMs.map(x => f"$x%.0f").mkString(" ")}")
    }
    val batches = loop.batches
    val queries = batches.map(_.graded.queries).sum
    val recalls = batches.map(b => b.graded.recallSum / b.graded.queries)
    val (tail, tailPct, tailN) = Stats.tail(batches.map(_.ms))
    if (!traced) {
      out("qps") = (queries / loop.passMs.length / (Stats.median(loop.passMs) / 1e3), "1/s")
      out("batch_p50_ms") = (Stats.median(batches.map(_.ms)), "ms")
      out("batch_tail_ms") = (tail, "ms")
      out("recall_at_10") = (batches.map(_.graded.recallSum).sum / queries, "ratio")
      out("min_recall_at_10") = (if (recalls.isEmpty) 0.0 else recalls.min, "ratio")
      out("runbook_s") = (Stats.median(loop.passMs) / 1e3, "s")
      out("setup_s") = (setupS, "s")
      out("index_mb") = (indexMb, "MB")
    }
    detail("batch_tail_percentile") = (tailPct, "%")
    detail("batches") = (tailN.toDouble, "count")
    detail("passes") = (loop.passMs.length.toDouble, "count")
    loop.samples.groupBy(_.kind).filter(_._1 != "batch").toSeq.sortBy(_._1)
      .foreach { case (k, ss) => detail(s"${k}_p50_ms") = (Stats.median(ss.map(_.ms)), "ms") }
    val attempted = warm.samples.length + loop.samples.length
    val failed = warm.failed + loop.failed
    detail("error_rate") = (failed.toDouble / attempted, "ratio")
    detail("gen_s") = (genS, "s")
    w.counters.foreach { case (nm, v, u) => detail(nm) = (v, u) }

    val correct = failed == 0 && loop.samples.nonEmpty
    println(s"graftbench ${w.name} seed=${ctx.seed} trace=${if (traced) 1 else 0} " +
      s"cores=${ctx.cores} knobs=${w.knobs.map { case (k, v) => s"$k=$v" }.mkString(",")}")
    (out.iterator ++ detail.iterator).foreach { case (nm, (v, u)) =>
      println(f"  $nm%-52s ${fmt(v)}%14s $u")
    }
    val metrics = out.map { case (nm, (v, u)) =>
      s""""$nm": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$metrics}}""")
    if (correct) 0 else 1
  }

  /** Log a run milestone with the JVM's uptime, for sizing runs. */
  private def mark(what: String): Unit = System.err.println(
    f"graftbench: $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}
