package graft.index

/** Coarse-quantizer routing shared by the routed serving forms
  * ([[ResidentIvfSq8]], [[ResidentIvfAdc]], [[HnswRouted]]): rank the C
  * centroids against a query — by L2 (the coarse quantizer's own metric, as
  * in faiss), or under `ip` by negated dot (MIPS routes to the centroids of
  * max inner product, the IVF-MIPS convention) — and take either a fixed
  * `nprobe` prefix or a mass-adaptive prefix. Ties break to the lower cid.
  *
  * Mass-adaptive routing is the scale-correct knob shape: a fixed nprobe
  * probes a data-dependent row count (under cluster skew a query near a
  * giant cluster over-scans while one in a sparse region starves), and it
  * doesn't translate across corpus sizes — nprobe=6 of C=8 is 75% of the
  * corpus, the same 6 of C=16384 is 0.04%. Population is the quantity
  * recall actually trades against, so the serving knob is the corpus
  * fraction scanned (`minMass`); minMass = 1.0 degenerates to the full
  * fan-out, which with rerank ≥ n makes the probe exact (the hash-gate
  * point). [[HnswRouted.probeBatchAuto]] routes the graph side the same
  * way.
  *
  * Serializable so the whole router (C·d floats + C longs — ~0.5 MB even
  * at IVF16384×64f) broadcasts once at load for SHARD-SIDE routing: past a
  * client volume bound (nq·C·d), ranking all C centroids for every query
  * on one driver thread becomes the batch's serial ceiling, so each shard
  * routes the broadcast queries itself — P-redundant arithmetic, but it
  * runs inside the same narrow job as the scan (no extra round trip), and
  * at 1000 executors redundant routing is free while a serial driver is
  * not. Below the bound the client routes (and on many client threads, so
  * even C in the thousands doesn't serialize — see [[Router.parallelMap]]).
  *
  * Reference analog: the IVF16384 coarse quantizer the faiss baseline
  * routes through (/root/reference/filter/faiss/config.yaml:50-53,
  * faiss.py:617-645). */
private[graft] final class CoarseRouter(
    val centroids: Array[(Int, Array[Float])],
    val sizes: Map[Int, Long],
    ip: Boolean = false) extends Serializable {

  val totalMass: Long = sizes.valuesIterator.sum

  def numClusters: Int = centroids.length

  /** The routed index's vector dimension; -1 without centroids. */
  def dim: Int = centroids.headOption.fold(-1)(_._2.length)

  /** All centroids ranked (distance asc, cid asc). */
  private def rank(qv: Array[Float]): Array[(Double, Int)] = {
    val out = new Array[(Double, Int)](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val (cid, cvec) = centroids(c)
      out(c) = (ResidentServe.dist(qv, cvec, ip), cid)
      c += 1
    }
    java.util.Arrays.sort(out, Ordering[(Double, Int)])
    out
  }

  /** Fixed-count routing: the `nprobe` nearest cluster ids. */
  def byNprobe(qv: Array[Float], nprobe: Int): Array[Int] =
    rank(qv).take(nprobe).map(_._2)

  /** Mass-adaptive routing: walk centroids in distance order, stop once
    * the probed clusters hold ≥ `minMass` of the corpus (or `maxNprobe`
    * clusters, whichever first). Always probes at least one cluster. */
  def byMass(qv: Array[Float], minMass: Double,
             maxNprobe: Int = Int.MaxValue): Array[Int] =
    massWalk(rank(qv), minMass, maxNprobe)

  private def massWalk(ranked: Array[(Double, Int)], minMass: Double,
                       maxNprobe: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    var mass = 0L
    val need = math.ceil(minMass * totalMass).toLong
    var i = 0
    var taken = 0
    while (i < ranked.length && taken < maxNprobe &&
           (taken == 0 || mass < need)) {
      val cid = ranked(i)._2
      out += cid
      mass += sizes.getOrElse(cid, 0L)
      taken += 1
      i += 1
    }
    out.result()
  }

  // -- graph routing (the 100 TB router) ------------------------------------
  // autoC ~ 4*sqrt(n) puts C in the hundreds of thousands at reference-fleet
  // corpus sizes (C = 400k at 10^10 rows), where the linear O(C·d) rank above
  // becomes the per-query serial floor no amount of scan parallelism hides.
  // faiss's answer is a graph quantizer over the centroids (IVF_HNSW — the
  // same composition the reference's IVF16384 baseline would reach for at
  // the next corpus decade); ours is an [[HnswIndex]] over the centroid
  // vectors, O(efRoute·log C) per query. Routing is then approximate —
  // efRoute ≥ C degenerates to the exact linear rank (the hash-gate point),
  // and routing recall vs the linear rank is spec-gated at operating
  // efRoute.

  /** HNSW over the centroids, built deterministically from the centroid
    * array on FIRST USE in each JVM (driver or shard executor): the
    * broadcast payload stays the raw centroids, and level draws key on cid
    * so every rebuild yields the identical graph. Concurrent searches are
    * safe (all search scratch is per-call). */
  @transient private lazy val centroidGraph: HnswIndex = {
    val g = new HnswIndex(m = 16, efConstruction = 100,
      metric = if (ip) "ip" else "l2")
    centroids.foreach { case (cid, cvec) => g.add(cid.toLong, cvec) }
    g
  }

  /** Graph-ranked centroid prefix: up to `width` centroids as (distance
    * asc, cid asc), beam width `efRoute`. */
  private def rankGraph(qv: Array[Float], width: Int,
                        efRoute: Int): Array[(Double, Int)] =
    centroidGraph.search(qv, k = width, ef = efRoute)
      .map { case (cid, d) => (d, cid.toInt) }

  /** [[byNprobe]] with the ranking served by the centroid graph;
    * `efRoute` ≥ C falls back to the exact linear rank. */
  def byNprobeGraph(qv: Array[Float], nprobe: Int, efRoute: Int): Array[Int] =
    if (efRoute >= numClusters) byNprobe(qv, nprobe)
    else rankGraph(qv, nprobe, efRoute).map(_._2)

  /** [[byMass]] with the candidate ranking served by the centroid graph:
    * the mass walk runs over the beam's `efRoute` nearest centroids (a
    * mass target the beam can't cover stops at the beam edge — efRoute
    * bounds the probe fan-out, exactly like `maxNprobe`); `efRoute` ≥ C
    * falls back to the exact linear rank. */
  def byMassGraph(qv: Array[Float], minMass: Double, efRoute: Int,
                  maxNprobe: Int = Int.MaxValue): Array[Int] =
    if (efRoute >= numClusters) byMass(qv, minMass, maxNprobe)
    else massWalk(rankGraph(qv, efRoute, efRoute), minMass, maxNprobe)
}

private[graft] object Router {

  /** Client-side routing volume bound (nq·C·d float ops): past it the
    * batch routes shard-side instead of on the driver. ~3e8 keeps a
    * 500-query batch client-side through C ≈ 16k·d64 / nq trade-offs
    * while capping the driver's serial share of a batch well under its
    * scan time. */
  val shardRouteVolume: Long = 300000000L

  /** Deterministic parallel map for per-query client-side routing work
    * (independent per element, results written by index). */
  def parallelMap[A, B: reflect.ClassTag](in: Array[A])(f: A => B): Array[B] = {
    val out = new Array[B](in.length)
    java.util.stream.IntStream.range(0, in.length).parallel()
      .forEach(i => out(i) = f(in(i)))
    out
  }
}
