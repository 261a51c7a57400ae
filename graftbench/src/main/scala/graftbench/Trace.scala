package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the program's public functions.
  * Disabled (untraced runs) it only runs the call. */
final class Calls(var enabled: Boolean) {
  private val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val nq = mutable.Map.empty[String, Long]

  def apply[T](name: String, queries: Int = 0)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally record(name, (System.nanoTime() - t0) / 1e6, queries)
    }

  def record(name: String, millis: Double, queries: Int = 0): Unit =
    if (enabled) {
      ms.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += millis
      nq(name) = nq.getOrElse(name, 0L) + queries
    }

  def names: Seq[String] = ms.keys.toSeq
  def samples(name: String): Seq[Double] = ms.get(name).map(_.toSeq).getOrElse(Nil)
  def queries(name: String): Long = nq.getOrElse(name, 0L)
  def clear(): Unit = { ms.clear(); nq.clear() }
}

/** The benchmark's own SparkListener. The harness tags each timed batch or
  * step with a local property; jobs carry it in their properties, so jobs,
  * tasks, executor run time and scheduling delay attribute to the item that
  * caused them. */
final class SparkTrace(sc: SparkContext) extends SparkListener {
  import SparkTrace._

  final class Job(val item: Long, val submit: Long) {
    var end: Long = -1L
    var firstLaunch: Long = Long.MaxValue
  }
  final class Item {
    var tasks = 0
    var runMs = 0L
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val items = mutable.Map.empty[Long, Item]
  private var failedTotal = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Key)))
    p.foreach { s =>
      jobs(e.jobId) = new Job(s.toLong, e.time)
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful) failedTotal += 1
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val it = items.getOrElseUpdate(j.item, new Item)
      it.tasks += 1
      if (e.taskMetrics != null) it.runMs += e.taskMetrics.executorRunTime
    }
  }

  def begin(item: Long): Unit = sc.setLocalProperty(Key, item.toString)
  def end(): Unit = sc.setLocalProperty(Key, null)

  /** Per-item records once every posted event is delivered. `windows` maps
    * an item to its wall-clock [start, end] in epoch millis. */
  def summarise(windows: Map[Long, (Long, Long)]): Summary = {
    org.apache.spark.GraftbenchBridge.drainListenerBus(sc)
    synchronized {
      val byItem = jobs.values.groupBy(_.item)
      var nJobs = 0L; var nTasks = 0L; var runMs = 0L
      var schedMs = 0.0; var driverMs = 0.0
      windows.foreach { case (item, (t0, t1)) =>
        val js = byItem.getOrElse(item, Nil).toSeq
        nJobs += js.length
        items.get(item).foreach { it => nTasks += it.tasks; runMs += it.runMs }
        js.foreach { j =>
          if (j.firstLaunch != Long.MaxValue) schedMs += (j.firstLaunch - j.submit)
        }
        // batch wall not covered by any job: routing, broadcast, merge
        val spans = js.map(j => (math.max(j.submit, t0),
          math.min(if (j.end < 0) t1 else j.end, t1))).filter(s => s._2 > s._1)
          .sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        spans.foreach { case (s, e) =>
          if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        if (curE > curS) covered += curE - curS
        driverMs += math.max(0L, (t1 - t0) - covered)
      }
      val n = math.max(1, windows.size).toDouble
      Summary(nJobs / n, nTasks / n, schedMs / n, driverMs / n, runMs / n,
        failedTotal)
    }
  }
}

object SparkTrace {
  val Key = "graftbench.item"
  final case class Summary(jobsPerItem: Double, tasksPerItem: Double,
                           schedDelayMs: Double, driverMs: Double,
                           taskRunMs: Double, failedTasks: Int)
}

/** JVM MX-bean readers: collector time, process CPU time, and bytes
  * allocated by live threads (Spark's task threads are pooled, so a
  * difference across one batch is that batch's allocation). */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def cpuNs: Long = os.getProcessCpuTime
  def allocBytes: Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
}
