package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free gates for the pure rules `graft.Bench` runs on: the
  * matched-recall knob pick every sweep family's headline uses, the rule
  * that keeps a filtered run from replacing the committed full-run
  * artifact, and how a per-query window is timed. */
class BenchSpec extends AnyFunSuite {

  test("pickKnob: smallest knob clearing 0.9, from unsorted points") {
    val pts = Seq(64 -> 0.97, 16 -> 0.82, 48 -> 0.95, 24 -> 0.91, 32 -> 0.93)
    assert(Bench.pickKnob(pts) === 24)
    // exactly at the floor clears it
    assert(Bench.pickKnob(Seq(8 -> 0.5, 4 -> 0.9)) === 4)
  }

  test("pickKnob: no point clears 0.9 -> best recall, smallest knob on a tie") {
    assert(Bench.pickKnob(Seq(80 -> 0.6, 20 -> 0.4, 40 -> 0.7)) === 40)
    assert(Bench.pickKnob(Seq(640 -> 0.85, 160 -> 0.85, 320 -> 0.8)) === 160)
  }

  test("pickKnob: a single point is the pick whatever its recall") {
    assert(Bench.pickKnob(Seq(128 -> 0.3)) === 128)
    assert(Bench.pickKnob(Seq(7 -> 1.0)) === 7)
  }

  test("outPath: unfiltered run defaults to BENCH_METRICS.json") {
    assert(Bench.outPath(Map.empty) === "BENCH_METRICS.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_SF_DIR" -> "/data/sf1",
      "SPARK_GRAFT_COARSE_C" -> "16")) === "BENCH_METRICS.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_BENCH_OUT" -> "/tmp/b.json")) ===
      "/tmp/b.json")
  }

  test("outPath: a filtered run writes SPARK_GRAFT_BENCH_OUT or is rejected") {
    for (v <- Bench.filterVars) {
      assert(Bench.outPath(Map(v -> "1",
        "SPARK_GRAFT_BENCH_OUT" -> "/tmp/f.json")) === "/tmp/f.json")
      val e = intercept[IllegalArgumentException](Bench.outPath(Map(v -> "1")))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_OUT"), e.getMessage)
      assert(e.getMessage.contains(v), e.getMessage)
    }
    assert(Bench.filterVars.toSet === Set("SPARK_GRAFT_TRACKS",
      "SPARK_GRAFT_IVF_FAMILIES", "SPARK_GRAFT_QPS_ONLY",
      "SPARK_GRAFT_SWEEP_CAP_PCT"))
  }

  test("timed: a throwing query is a failure with its exception, not a time") {
    val r = Bench.timed(Map.empty)(throw new IllegalStateException("no \"table\"\nhere"))
    assert(r === Left("java.lang.IllegalStateException: no 'table' here"))
  }

  test("timed: fixtures built inside the window are not the query's seconds") {
    val fixtures = scala.collection.mutable.Map("built_before" -> 5.0)
    val t0 = System.nanoTime()
    val r = Bench.timed(fixtures.toMap) {
      Thread.sleep(100)
      fixtures("built_inside") = 0.08
    }
    val outer = (System.nanoTime() - t0) / 1e9
    val sec = r.toOption.get
    assert(sec >= 0.1 - 0.08 - 1e-3 && sec <= outer - 0.08, s"$sec of $outer")
  }
}
