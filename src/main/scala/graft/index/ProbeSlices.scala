package graft.index

/** Round-robin query striping for resident serving batches (guide §2.6:
  * overlap independent jobs — Spark happily runs several jobs at once; a
  * probe batch is only ONE narrow job whose task fan equals the resident
  * partition count, so a batch over few shards leaves most of the machine
  * idle no matter how many queries it carries).
  *
  * [[striped]] splits the query array into `slices` round-robin stripes and
  * runs each stripe as its own concurrent Spark job on a long-lived stripe
  * pool, under one job group per batch (the reference serves with a thread
  * pool over queries for the same reason, filter/faiss/faiss.py:420-426 —
  * and the r11 filter-track subindex striping measured 2.7× at 10M rows
  * from exactly this shape).
  * Total probe work is unchanged: each qid is still probed exactly once,
  * and the per-qid result never depends on which other qids share its job,
  * so the concatenated output re-sorted by (qid, rank) is IDENTICAL to the
  * unsliced batch (asserted per family in IndexSpec/SparseSpec).
  *
  * [[auto]] picks the stripe count so that slices × partitions ≈
  * targetFactor × cores: scale-adaptive, not a local[32] constant — on a
  * corpus whose resident partition count already covers the session's
  * cores (the big decades, where serveShards = cores) it returns 1–2
  * (tail overlap only), and under the driver's low-core scaling runs it
  * returns 1 (no stripe overhead where there is nothing to fill). */
object ProbeSlices {

  /** Stripe count: smallest s with s·partitions ≥ targetFactor·cores,
    * capped so a stripe never holds fewer than `minPerSlice` queries
    * (sub-millisecond stripe jobs time scheduling, not the operator —
    * the r8 tiny-task lesson). */
  def auto(partitions: Int, cores: Int, nQueries: Int,
           targetFactor: Int = 2, minPerSlice: Int = 16): Int = {
    val want = (targetFactor * cores + partitions - 1) / math.max(1, partitions)
    val cap = math.max(1, nQueries / math.max(1, minPerSlice))
    math.max(1, math.min(want, cap))
  }

  /** Run `one` over round-robin stripes of `qs` as concurrent Spark jobs
    * and merge; `key` restores the global (qid, rank) output order. With
    * `slices <= 1` (or a batch too small to stripe) this is exactly
    * `one(qs)` — the unsliced path byte-for-byte. */
  def striped[Q, R](qs: Array[Q], slices: Int)
                   (one: Array[Q] => Array[R])
                   (key: R => (Long, Long))
                   (implicit ct: scala.reflect.ClassTag[R],
                    qt: scala.reflect.ClassTag[Q]): Array[R] = {
    if (slices <= 1 || qs.length < 2) return one(qs)
    val stripes = (0 until slices).map { s =>
      val b = Array.newBuilder[Q]
      var i = s
      while (i < qs.length) { b += qs(i); i += slices }
      b.result()
    }.filter(_.nonEmpty)
    run(qs, stripes, one, key)
  }

  /** [[striped]] with GROUP-keyed striping: all entries sharing
    * `groupOf(q)` land in one stripe. For batches whose reduce spans
    * several input rows per logical query — MaxSim's composite query
    * vectors (qid·qmax + pos) must be reduced together, so a blind
    * round-robin split would separate a query's positions and corrupt its
    * score sum. Per-group results are independent, so the merged output
    * equals the unsliced batch. */
  def stripedBy[Q, R](qs: Array[Q], slices: Int)(groupOf: Q => Long)
                     (one: Array[Q] => Array[R])
                     (key: R => (Long, Long))
                     (implicit ct: scala.reflect.ClassTag[R],
                      qt: scala.reflect.ClassTag[Q]): Array[R] = {
    if (slices <= 1 || qs.length < 2) return one(qs)
    val stripes = (0 until slices).map { s =>
      qs.filter(q => math.floorMod(groupOf(q), slices.toLong) == s.toLong)
    }.filter(_.nonEmpty)
    run(qs, stripes, one, key)
  }

  /** The stripe threads, shared by every striped batch: daemon threads
    * (an idle pool never holds the JVM open), created on demand and reused
    * while idle, so the serving loop builds no pool per batch and a batch
    * never waits on a thread another batch (or nested striping) holds —
    * job submission blocks per stripe. Threads do not inherit the creating
    * caller's Spark local properties: a reused thread would otherwise
    * carry the properties of whichever batch created it. */
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool {
    val n = new java.util.concurrent.atomic.AtomicLong
    r => {
      val t = new Thread(null, r, s"probe-stripe-${n.incrementAndGet()}", 0L,
        false)
      t.setDaemon(true)
      t
    }
  }

  private val batches = new java.util.concurrent.atomic.AtomicLong

  private def run[Q, R](qs: Array[Q], stripes: Seq[Array[Q]],
                        one: Array[Q] => Array[R],
                        key: R => (Long, Long))
                       (implicit ct: scala.reflect.ClassTag[R]): Array[R] = {
    if (stripes.length <= 1) return one(qs)
    // the batch's stripes run as one Spark job group, so one throwing
    // stripe can cancel its siblings' jobs — the in-flight ones (their
    // tasks interrupted) and any a sibling submits after the cancel
    val sc = org.apache.spark.SparkContext.getOrCreate()
    val group = s"graft-probe-stripes-${batches.incrementAndGet()}"
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = stripes.map { st =>
      scala.concurrent.Future {
        sc.setJobGroup(group, "striped probe batch", interruptOnCancel = true)
        try one(st) finally sc.clearJobGroup()
      }
    }
    // fail fast: Future.sequence fails as soon as ANY stripe fails,
    // instead of awaiting each stripe in submission order
    val parts =
      try scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      catch {
        case e: Throwable =>
          sc.cancelJobGroupAndFutureJobs(group, "a sibling stripe failed")
          throw e
      }
    // stripes partition qids — concatenate and restore (qid, rank) order
    val all = Array.concat(parts: _*)
    scala.util.Sorting.stableSort(all, (a: R, b: R) => {
      val (ka, kb) = (key(a), key(b))
      ka._1 < kb._1 || (ka._1 == kb._1 && ka._2 < kb._2)
    })
    all
  }
}
