package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One executor-resident inverted-index shard: dim → (ids, vals) posting
  * arrays over the shard's documents, each list IMPACT-SORTED — (v desc,
  * id asc), the order linscan stores postings in so a budget cut keeps the
  * highest-contribution entries (/root/reference/sparse/linscan/
  * linscan.py:19-56). Postings may additionally be budget-truncated at
  * build (top-m per dim GLOBALLY, before sharding), so a shard holds each
  * of its docs' surviving postings in full — per-shard scores are
  * complete, never partial, and the driver merge is a plain top-k over
  * per-shard top-ks. */
final case class PostingShard(index: Map[String, (Array[Long], Array[Long])],
                              fwd: scala.collection.mutable.LongMap[
                                (Array[String], Array[Long])] = null)

/** Executor-resident budgeted sparse MIPS serving — the linscan serving
  * shape (/root/reference/sparse/linscan/linscan.py:19-56: an in-memory
  * inverted index answering query batches under a per-query budget),
  * re-expressed as pinned posting shards: build once
  * ([[ResidentPostings.load]] pins the impact-sorted postings id-sharded),
  * then each query batch is one broadcast + one narrow job + a driver-side
  * bounded merge.
  *
  * TWO budget knobs, matching the reference's two regimes:
  *  - `m` (build-time): top-m postings per dim globally — the
  *    [[graft.operators.Sparse.truncatePostings]] data bound. At m = |docs|
  *    nothing truncates and the index is the full linscan inverted file.
  *  - `budget` (query-time): maximum posting accumulations per (query,
  *    shard), spent in IMPACT ORDER — postings are consumed globally
  *    ordered by qv·v descending (a k-way heap merge over the query's
  *    dims, each dim's list already v-descending), which is exactly what
  *    lets a partial scan keep recall: the entries that decide the top-k
  *    are overwhelmingly the large-product ones, so recall@0.9 arrives at
  *    a fraction of the full scan instead of only at m = |docs| (the r9
  *    finding: weight-blind truncation never cut scan volume at matched
  *    recall on a tie-heavy corpus). budget = Long.MaxValue is EXACT:
  *    results equal [[graft.operators.Sparse.budgetedMips]] row-for-row at
  *    the same m (same integer scores, same (score desc, id asc) ranking)
  *    — asserted in SparseSpec.
  *
  * Scale story: shards are the scale-out axis (docs hash across executors;
  * per-dim postings bounded by m AND by the impact-ordered budget so no
  * shard inherits a hot dim's full fan-out); queries broadcast (small by
  * workload definition); k·nq·P candidate rows return. The budget is
  * per-SHARD, so total work per query is budget·P and each shard's slice
  * is bounded regardless of fleet size — the per-query wall-clock linscan
  * bounds with its time budget, bounded here as deterministic work. */
final class ResidentPostings(spark: SparkSession, rdd: RDD[PostingShard]) {

  /** Serving-form batch probe: `qs` rows are (qid, dims, weights) — the
    * long-form query vector zipped into parallel arrays. Returns
    * (qid, id, score, rank) sorted by (qid, rank); only docs sharing at
    * least one surviving posting dim with the query appear (join
    * semantics, like the dataflow path). `budget` caps posting
    * accumulations per (query, shard), spent highest-impact first.
    *
    * `rerank` > 0 switches the kernel to its TWO-STAGE form (r13, VERDICT
    * r12 item 4 — the candidate-generation/verification split the graph
    * and binary families already run): the budgeted impact-ordered walk
    * only NOMINATES candidates — the top-`rerank` docs per (query, shard)
    * by partial score — and each candidate is then scored EXACTLY from the
    * shard's forward index (its full surviving postings, one bounded dot
    * product), so partial-score misranking inside the candidate set
    * disappears and only candidate MISSES cost recall. That is what lets a
    * budget far below the matched-recall point of the partial-score kernel
    * hold 0.9: the r12 artifact's pick was 57% of the corpus postings
    * because tie-heavy partial sums misrank, not because the top docs'
    * postings are that deep. Needs [[ResidentPostings.load]]'s
    * `forward = true`; at budget ≥ the shard's postings the candidates'
    * partial scores are already exact, so the two-stage rows equal the
    * exact walk row-for-row (SparseSpec asserts it) — the sweep's top
    * anchor stays recall 1.0 by construction. `rerank = 0` (default) is
    * the r12 kernel byte-for-byte: every declared-oracle path (including
    * the finite-budget `sparse_impact_budget`) is unchanged. */
  def probeBatch(qs: Array[(Long, Array[String], Array[Long])],
                 k: Int,
                 budget: Long = Long.MaxValue,
                 treeMergeAt: Int = 64,
                 rerank: Int = 0): Array[(Long, Long, Long, Long)] = {
    // impact order assumes POSITIVE products: with a negative query
    // weight, products along a v-descending posting list INCREASE, so a
    // budgeted prefix walk would spend the budget anti-impact-ordered; and
    // a ZERO weight's postings are score-0 — the budgeted prefix cut drops
    // them (cut() returns 0 for qv·v = 0) while the exact full-budget walk
    // admits them, so near-full budgets could return a different candidate
    // set than budget = MaxValue when positive-score matches are scarce.
    // Rejecting qv <= 0 at entry makes budgeted and exact candidate
    // domains agree by construction (tf weights are >= 1, so no real
    // caller is constrained).
    ResidentServe.validate(k, -1, Iterator.empty)
    require(qs.forall(_._3.forall(_ > 0L)),
      "ResidentPostings serves strictly positive weights (tf domain): " +
        "negative query weights would invert the impact order of a " +
        "budgeted scan, and zero weights would make the budgeted and " +
        "exact candidate sets disagree (score-0 postings are cut)")
    val bud = budget
    val rr = rerank
    // (score desc, id asc) merge in exact Long arithmetic: driver merge at
    // serving shard counts, two-level tree past `treeMergeAt` (ProbeMerge)
    ResidentServe.serve(rdd, qs, qs.length, k, treeMergeAt, -1L, None) {
      (shard, batch) =>
        if (rr > 0) require(shard.fwd != null,
          "probeBatch(rerank > 0) needs the forward index: build the " +
            "resident shards with ResidentPostings.load(..., forward = true)")
        batch.iterator.flatMap { case (qid, qdims, qvs) =>
          val acc = ResidentPostings.accumulate(shard, qdims, qvs, bud)
          // keep = top-`keep` docs per (query, shard) by (score desc, id
          // asc): k for the one-stage kernel (what the driver merge needs),
          // `rr` candidates for the two-stage one
          val keep = if (rr > 0) rr else k
          val bs = new Array[Long](keep)
          val bi = new Array[Long](keep)
          var filled = 0
          if (keep <= 16) {
            // bounded best-first insertion buffer: keep is small, insertion
            // sort beats a heap on constant factors
            acc.foreachEntry { (id, s) =>
              if (filled < keep || s > bs(filled - 1) ||
                  (s == bs(filled - 1) && id < bi(filled - 1))) {
                var pos = math.min(filled, keep - 1)
                while (pos > 0 && (bs(pos - 1) < s ||
                       (bs(pos - 1) == s && bi(pos - 1) > id))) {
                  bs(pos) = bs(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
                }
                bs(pos) = s; bi(pos) = id
                if (filled < keep) filled += 1
              }
            }
          } else {
            // candidate-width keeps take a bounded binary min-heap (worst
            // kept on top): O(|acc| log keep) vs insertion's O(|acc|·keep)
            filled = ResidentPostings.topByScore(acc, keep, bs, bi)
          }
          if (rr <= 0) {
            (0 until filled).iterator.map(i => (qid, bi(i), bs(i)))
          } else {
            // stage 2: exact score per candidate from the forward index —
            // one bounded integer dot product over the doc's surviving
            // postings (Long adds commute exactly, so walk order is free)
            val qmap =
              new java.util.HashMap[String, java.lang.Long](qdims.length * 2)
            var qi = 0
            while (qi < qdims.length) {
              val prev = qmap.get(qdims(qi))
              qmap.put(qdims(qi),
                java.lang.Long.valueOf(
                  (if (prev == null) 0L else prev.longValue) + qvs(qi)))
              qi += 1
            }
            val es = new Array[Long](filled)
            var ci = 0
            while (ci < filled) {
              val (ddims, dvals) = shard.fwd(bi(ci))
              var s = 0L
              var di = 0
              while (di < ddims.length) {
                val qv = qmap.get(ddims(di))
                if (qv != null) s += qv.longValue * dvals(di)
                di += 1
              }
              es(ci) = s
              ci += 1
            }
            // top-k among the exact-scored candidates, (score desc, id asc)
            val idx = (0 until filled).toArray
            val sorted = idx.sortBy(i => (-es(i), bi(i)))
            sorted.iterator.take(k).map(i => (qid, bi(i), es(i)))
          }
        }
    }(Ordering.Long.reverse, ProbeMerge.treeTopKByScore(_, k))
  }

  /** [[probeBatch]] with DataFrame plumbing on both ends; `queries` is the
    * long-form (qid, dim, qv) the dataflow path takes. At the default full
    * budget, results equal `Sparse.budgetedMips(queries, base, k, m)`
    * row-for-row. */
  def probeLocal(queries: DataFrame, k: Int,
                 budget: Long = Long.MaxValue,
                 rerank: Int = 0): DataFrame = {
    import spark.implicits._
    val qs = queries
      .select(col("qid").cast("long"), col("dim").cast("string"),
        col("qv").cast("long"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (qid, rows) =>
        (qid, rows.map(_._2), rows.map(_._3))
      }
    spark.createDataFrame(probeBatch(qs, k, budget, rerank = rerank).toSeq)
      .toDF("qid", "id", "score", "rank")
  }

  /** Largest per-shard posting count: any budget ≥ this is EXACT on every
    * shard (the accumulate fast path), making it the honest top anchor of
    * a budget sweep — recall exactly 1.0 by construction, not by luck. */
  def maxShardPostings(): Long =
    rdd.map(_.index.valuesIterator.map(_._1.length.toLong).sum)
      .reduce(math.max)

  def numShards: Int = rdd.getNumPartitions

  def unload(): Unit = rdd.unpersist()
}

object ResidentPostings {

  /** Bounded top-`keep` selection over the accumulator by (score desc, id
    * asc) into the pre-sized `bs`/`bi` arrays (contents unordered — the
    * caller re-sorts); returns the filled count. An array-backed binary
    * min-heap with the WORST kept entry at the root — O(n log keep) for
    * the candidate-width regime (rerank ~10²-10³) where the k-sized
    * insertion buffer's O(n·keep) would dominate the walk it serves. */
  private[graft] def topByScore(
      acc: scala.collection.mutable.LongMap[Long], keep: Int,
      bs: Array[Long], bi: Array[Long]): Int = {
    var size = 0
    // "worse" = loses the (score desc, id asc) contest
    def worseThan(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)
    def swap(a: Int, b: Int): Unit = {
      val ts = bs(a); val ti = bi(a)
      bs(a) = bs(b); bi(a) = bi(b)
      bs(b) = ts; bi(b) = ti
    }
    acc.foreachEntry { (id, s) =>
      if (size < keep) {
        bs(size) = s; bi(size) = id
        size += 1
        var pos = size - 1
        var up = true
        while (up && pos > 0) {
          val par = (pos - 1) >> 1
          if (worseThan(bs(pos), bi(pos), bs(par), bi(par))) {
            swap(pos, par); pos = par
          } else up = false
        }
      } else if (worseThan(bs(0), bi(0), s, id)) {
        bs(0) = s; bi(0) = id
        var pos = 0
        var down = true
        while (down) {
          val l = 2 * pos + 1
          if (l >= size) down = false
          else {
            var w = l
            val r = l + 1
            if (r < size && worseThan(bs(r), bi(r), bs(l), bi(l))) w = r
            if (worseThan(bs(w), bi(w), bs(pos), bi(pos))) {
              swap(pos, w); pos = w
            } else down = false
          }
        }
      }
    }
    size
  }

  /** Per-(query, shard) score accumulation. Full budget takes the plain
    * per-dim walk (O(touched)); a finite budget takes the same plain walks
    * cut at PER-DIM PREFIX positions derived from a product threshold —
    * the r10 heap-merge kernel spent more per accumulation than the budget
    * saved (a PriorityQueue op + boxed tuple per posting run vs the walk's
    * two array reads and a LongMap add), so its sub-full sweep points were
    * both slower AND lower-recall than the full-scan anchor. The threshold
    * form does the identical impact-ordered selection with ZERO per-posting
    * overhead:
    *
    *  1. binary-search the largest product threshold θ whose posting count
    *     count(θ) = Σ_dims |{v : qv·v ≥ θ}| still reaches the budget —
    *     count() is one binary search per dim on its v-descending list,
    *     so the whole search is O(64 · dims · log L), amortized over the
    *     thousands of accumulations it admits;
    *  2. walk each dim's prefix with qv·v ≥ θ+1 in full (all strictly
    *     above the tie tier, Σ < budget by θ's maximality);
    *  3. spend the remaining budget on the θ-tier (qv·v == θ... θ+1-1)
    *     entries in (dim asc, pos asc) order — deterministic for a fixed
    *     shard layout.
    *
    * Selection is exactly the top-`budget` postings by qv·v (ties broken
    * by dim then position), i.e. the same impact order linscan's budget
    * spends in (linscan.py:19-56). When the budget covers every posting
    * both paths accumulate identical totals (integer adds commute), so
    * budget = MaxValue stays bit-equal to the exact dataflow join.
    * Domain: qv is strictly positive and v non-negative (tf counts) —
    * [[ResidentPostings.probeBatch]] rejects qv <= 0 at entry (zero
    * weights would make budgeted and exact candidate sets disagree, and a
    * negative weight would make a v-descending walk ANTI-impact-ordered). */
  private[graft] def accumulate(
      shard: PostingShard, qdims: Array[String], qvs: Array[Long],
      budget: Long): scala.collection.mutable.LongMap[Long] = {
    val acc = scala.collection.mutable.LongMap.empty[Long]
    // resolve present dims once
    val lists = new Array[(Array[Long], Array[Long])](qdims.length)
    var present = 0
    var i = 0
    while (i < qdims.length) {
      shard.index.get(qdims(i)) match {
        case Some(l) => lists(i) = l; present += 1
        case None => lists(i) = null
      }
      i += 1
    }
    if (present == 0) return acc
    var total = 0L
    i = 0
    while (i < qdims.length) {
      if (lists(i) != null) total += lists(i)._1.length
      i += 1
    }
    if (budget >= total) {
      // exact: plain walk over everything
      i = 0
      while (i < qdims.length) {
        if (lists(i) != null) {
          val (ids, vals) = lists(i)
          val qv = qvs(i)
          var j = 0
          while (j < ids.length) {
            acc(ids(j)) = acc.getOrElse(ids(j), 0L) + qv * vals(j)
            j += 1
          }
        }
        i += 1
      }
      acc
    } else {
      // entries in dim i with product qv·v ≥ θ form the prefix
      // [0, cut(i, θ)) of its v-descending list: cut = first position with
      // v < ceil(θ/qv) (qv ≥ 1 here — a qv = 0 dim's products are all 0,
      // below any θ ≥ 1)
      def cut(di: Int, theta: Long): Int = {
        val qv = qvs(di)
        if (qv <= 0L) return 0
        val vmin = (theta + qv - 1) / qv // ceil(θ/qv)
        val vals = lists(di)._2
        var lo = 0
        var hi = vals.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (vals(mid) >= vmin) lo = mid + 1 else hi = mid
        }
        lo
      }
      def countAtLeast(theta: Long): Long = {
        var c = 0L
        var d = 0
        while (d < qdims.length) {
          if (lists(d) != null) c += cut(d, theta)
          d += 1
        }
        c
      }
      // largest θ with count(θ) ≥ budget; θ ≥ 1 (θ = 0 would admit
      // everything, contradicting budget < total). Search space: products
      // are bounded by max(qv·v[0]).
      var maxProd = 1L
      i = 0
      while (i < qdims.length) {
        if (lists(i) != null && lists(i)._2.length > 0) {
          val p = qvs(i) * lists(i)._2(0)
          if (p > maxProd) maxProd = p
        }
        i += 1
      }
      var lo = 1L
      var hi = maxProd
      while (lo < hi) { // invariant: count(lo) ≥ budget > count(hi + 1)
        val mid = lo + (hi - lo + 1) / 2
        if (countAtLeast(mid) >= budget) lo = mid else hi = mid - 1
      }
      val theta = lo
      // full prefixes strictly above the tie tier, then the θ-tier in
      // (dim asc, pos asc) order until the budget is spent
      var remaining = budget
      i = 0
      while (i < qdims.length) {
        if (lists(i) != null) {
          val (ids, vals) = lists(i)
          val qv = qvs(i)
          val full = cut(i, theta + 1)
          var j = 0
          while (j < full) {
            acc(ids(j)) = acc.getOrElse(ids(j), 0L) + qv * vals(j)
            j += 1
          }
          remaining -= full
        }
        i += 1
      }
      i = 0
      while (i < qdims.length && remaining > 0L) {
        if (lists(i) != null) {
          val (ids, vals) = lists(i)
          val qv = qvs(i)
          var j = cut(i, theta + 1)
          val tierEnd = cut(i, theta)
          while (j < tierEnd && remaining > 0L) {
            acc(ids(j)) = acc.getOrElse(ids(j), 0L) + qv * vals(j)
            remaining -= 1
            j += 1
          }
        }
        i += 1
      }
      acc
    }
  }

  /** Pin a budget-truncated inverted index over `base` = (id, dim, v)
    * long-form sparse vectors: top-`m` postings per dim (the
    * [[graft.operators.Sparse.truncatePostings]] bound; m ≥ |docs| keeps
    * everything — the full linscan inverted file), hash-sharded by doc id
    * into `numPartitions` resident shards, every per-dim list sorted
    * IMPACT-descending (v desc, id asc) so the query-time budget spends
    * highest-contribution first. Build once, probe many. */
  def load(base: DataFrame, m: Int, numPartitions: Int,
           forward: Boolean = false): ResidentPostings = {
    val spark = base.sparkSession
    import spark.implicits._
    val fw = forward
    val rdd = graft.operators.Sparse.truncatePostings(base, m)
      .select(col("id").cast("long"), col("dim").cast("string"),
        col("v").cast("long"))
      .repartition(numPartitions, col("id"))
      .as[(Long, String, Long)].rdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
        // doc-major transpose for the exact-rerank stage (forward = true):
        // each doc's SURVIVING postings (same truncated universe as the
        // inverted lists, so "exact" means exact at this m — at m = |docs|,
        // truly exact). Walk order inside a doc is free: integer adds
        // commute exactly.
        val docs =
          if (fw) scala.collection.mutable.LongMap
            .empty[scala.collection.mutable.ArrayBuffer[(String, Long)]]
          else null
        it.foreach { case (id, dim, v) =>
          acc.getOrElseUpdate(dim,
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) += ((id, v))
          if (fw)
            docs.getOrElseUpdate(id,
              scala.collection.mutable.ArrayBuffer.empty[(String, Long)]) += ((dim, v))
        }
        val fwdIdx =
          if (!fw) null
          else {
            val out = scala.collection.mutable.LongMap
              .empty[(Array[String], Array[Long])]
            docs.foreachEntry { (id, rows) =>
              out(id) = (rows.iterator.map(_._1).toArray,
                rows.iterator.map(_._2).toArray)
            }
            out
          }
        Iterator.single(PostingShard(acc.iterator.map { case (d, rows) =>
          // impact order within the shard — shuffle arrival order is
          // nondeterministic, so the sort is what makes budgeted results
          // reproducible across runs of the same layout
          val sorted = rows.sortBy { case (id, v) => (-v, id) }
          d -> (sorted.iterator.map(_._1).toArray,
            sorted.iterator.map(_._2).toArray)
        }.toMap, fwdIdx))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize the shards before the first probe
    new ResidentPostings(spark, rdd)
  }
}
