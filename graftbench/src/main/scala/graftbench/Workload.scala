package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.reflect.ClassTag

/** Everything a workload needs from the run: the session, the seed, a
  * scratch directory inside the checkout, and the call spans. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long,
                     work: String, calls: Calls)

/** The outcome of checking one batch or step against the truth. */
final case class Graded(ok: Boolean, queries: Int, recallSum: Double,
                        why: String = "")

/** One track of the benchmark. `prepare` generates inputs and the truth
  * (untimed); `setup` builds and loads the index (timed as setup_s, and
  * repeatable: it releases the previous instance first); a pass is a fixed
  * sequence of `passLength` items, each one timed call of `run` followed by
  * an untimed `grade`. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Search knobs at their frozen values, by name. Setup and every call
    * read them from here; only `--sweep` re-points one, through `setKnob`. */
  val knobs = mutable.LinkedHashMap.empty[String, Long]
  def setKnob(key: String, v: Long): Unit = knobs(key) = v
  /** Call names whose spans make up index.probe.* in the traced run. */
  def probeCalls: Seq[String]
  def prepare(): Unit
  def setup(): Unit
  def passLength: Int
  /** Untimed warm-up before the timed loop, in seconds (at least one pass).
    * Pass times keep falling after setup while C2 works through its
    * backlog of Spark, Catalyst and program methods; the loop starts near
    * the end of that curve. */
  def warmupS: Double = 12.0
  def beginPass(): Unit = ()
  /** "batch" for a query batch; streaming steps are insert, delete, search. */
  def kind(i: Int): String = "batch"
  def run(i: Int): AnyRef
  def grade(i: Int, out: AnyRef): Graded
  /** Exact workload counters for the report (name → value, unit). */
  def counters: Seq[(String, Double, String)] = Nil
  def close(): Unit

  protected val spark: SparkSession = ctx.spark
  protected def calls: Calls = ctx.calls

  /** Run one preparation phase and log its wall time to stderr. */
  protected def phase[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"graftbench: $name $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Storage bytes of each cached RDD, by RDD id. */
  private def storage(): Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i.memSize).toMap

  /** Index memory attributed to setup calls, by class: the storage of the
    * RDDs that the call left cached. Filled on traced runs only. */
  val classMb = mutable.LinkedHashMap.empty[String, Double]
  private var lastSetupRdds = Set.empty[Int]
  private var setupBaseline = Set.empty[Int]

  /** A timed call into a public setup function. */
  protected def setupCall[T](name: String)(f: => T): T =
    if (!calls.enabled) f
    else {
      val before = storage().keySet
      val r = calls(name)(f)
      val added = storage().filter { case (id, _) => !before(id) }
      if (added.nonEmpty)
        classMb(name.split('.').dropRight(1).mkString(".")) = added.values.sum / 1e6
      r
    }

  /** Run one full setup and remember which RDDs it pinned. */
  final def timedSetup(): Double = {
    setupBaseline = storage().keySet
    val t0 = System.nanoTime()
    setup()
    val s = (System.nanoTime() - t0) / 1e9
    lastSetupRdds = storage().keySet -- setupBaseline
    s
  }

  /** Storage memory of the index RDDs the last setup pinned, in MB. */
  final def indexMb: Double = {
    val st = storage()
    lastSetupRdds.toSeq.flatMap(st.get).sum / 1e6
  }
}

/** Brute-force truth and answer checks, on the driver. */
object Truth {
  def par[T: ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  /** Squared L2 in the program's accumulation order (double, coordinate by
    * coordinate), so exact answers compare equal. */
  def l2(q: Array[Float], v: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { val d = q(i).toDouble - v(i).toDouble; acc += d * d; i += 1 }
    acc
  }
  def negIp(q: Array[Float], v: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { acc += q(i).toDouble * v(i).toDouble; i += 1 }
    -acc
  }

  /** Ids of the k best candidates by (dist asc, id asc). */
  def topK(k: Int, cand: Iterator[Int], dist: Int => Double): Array[Long] = {
    val bd = new Array[Double](k); val bi = new Array[Long](k)
    var filled = 0
    cand.foreach { c =>
      val d = dist(c); val id = c.toLong
      if (filled < k || d < bd(filled - 1) || (d == bd(filled - 1) && id < bi(filled - 1))) {
        var pos = math.min(filled, k - 1)
        while (pos > 0 && (bd(pos - 1) > d || (bd(pos - 1) == d && bi(pos - 1) > id))) {
          bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
        }
        bd(pos) = d; bi(pos) = id
        if (filled < k) filled += 1
      }
    }
    bi.take(filled)
  }

  /** Intersection of sorted id arrays. */
  def intersect(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1 else if (a(i) > b(j)) j += 1
      else { out += a(i); i += 1; j += 1 }
    }
    out.result()
  }

  /** Answer ids per query in rank order, from (qid, id, rank) rows. */
  def byQuery(rows: Iterator[(Long, Long, Long)]): Map[Long, Array[Long]] =
    rows.toArray.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }

  /** Check every query of a batch: as many rows as the truth holds (k, or
    * every candidate when fewer exist), no duplicate or invalid id, every
    * id admissible (`allowed`: tags carried, id live), and, where `exact`
    * holds, the truth itself. Recall@k is the share of truth ids returned. */
  def check(qids: Seq[Long], got: Map[Long, Array[Long]],
            truth: Long => Array[Long], allowed: (Long, Long) => Boolean,
            exact: Long => Boolean): Graded = {
    val bad = mutable.ArrayBuffer.empty[String]
    val stray = got.keySet -- qids
    if (stray.nonEmpty) bad += s"answers for unknown qids ${stray.take(3)}"
    var recall = 0.0
    qids.foreach { q =>
      val ans = got.getOrElse(q, Array.empty[Long])
      val t = truth(q)
      if (ans.length != t.length) bad += s"q$q: ${ans.length} rows, expected ${t.length}"
      else if (ans.distinct.length != ans.length) bad += s"q$q: duplicate ids"
      else ans.find(id => !allowed(q, id)).foreach(id => bad += s"q$q: inadmissible id $id")
      if (exact(q) && !ans.sameElements(t)) bad += s"q$q: exact branch differs from truth"
      val ts = t.toSet
      recall += (if (t.isEmpty) 1.0 else ans.count(ts).toDouble / t.length)
    }
    Graded(bad.isEmpty, qids.length, recall, bad.take(3).mkString("; "))
  }
}
