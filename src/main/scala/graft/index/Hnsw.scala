package graft.index

import scala.collection.mutable

/** Compact single-threaded HNSW graph index over float vectors — the
  * partition-local ANN structure probed inside `mapPartitions` (see
  * [[HnswKnn]]). Freshly implemented from the HNSW paper's algorithm
  * (Malkov & Yashunin 2016); the reference embeds a heavily modified
  * hnswlib (/root/reference/filter/hnsw/hnswalg.h) whose semantics —
  * leveled small-world graph, ef-bounded best-first search, heuristic
  * neighbor diversification, and a one-stage filtered search that widens
  * until enough allowed candidates are found — this reproduces in plain
  * Scala.
  *
  * Design notes:
  *  - levels are drawn from the standard exponential distribution with a
  *    deterministic per-id seed; builds are reproducible given a fixed
  *    insertion order (callers sort partitions by id before inserting);
  *  - neighbor selection uses the diversification heuristic
  *    (hnswalg.h:794-834 getNeighborsByHeuristic2): a candidate is kept
  *    only if it is closer to the target than to every already-kept
  *    neighbor, so edges span clusters instead of collapsing into the
  *    nearest clique — better graphs at equal M;
  *  - the filtered search walks THROUGH blocked nodes and keeps widening
  *    the beam until ≥ k allowed candidates are admitted (the reference's
  *    one-stage search, bindings.cpp:724-841, widens a bounded BFS radius
  *    until the allowed-candidate count is reached, then re-ranks exactly;
  *    distances here are exact already so the re-rank is inherent);
  *  - single-threaded by design: parallelism comes from Spark partitioning,
  *    not intra-index threads (the reference's per-query OMP=1 choice,
  *    faiss.py:374, makes the same call).
  */
final class HnswIndex(m: Int = 16, efConstruction: Int = 100,
                      metric: String = "l2",
                      quant: Option[(Array[Double], Array[Double])] = None)
    extends Serializable {
  private val maxM = m
  private val maxM0 = 2 * m
  private val levelMult = 1.0 / math.log(m.toDouble)
  // ip = max-inner-product as NEGATED dot, so smaller is always better and
  // one best-first traversal serves both metrics — hnswlib's
  // InnerProductSpace makes the same 1−ip / −ip transformation
  // (/root/reference/filter/hnsw/space_ip.h; OOD track flagship metric,
  // /root/reference/ood/base.py:3). Not a true metric, but graph ANN under
  // negated-ip is the standard MIPS construction the reference ships.
  private val ipMetric = metric match {
    case "l2" => false
    case "ip" => true
    case other => throw new IllegalArgumentException(
      s"unknown HNSW metric: $other (expected l2 | ip)")
  }

  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]] // float mode
  private val codes = mutable.ArrayBuffer.empty[Array[Byte]] // sq8 mode
  private val levels = mutable.ArrayBuffer.empty[Int]
  // links(node)(level) = neighbor node indices
  private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
  private var entryPoint = -1
  private var maxLevel = -1

  def size: Int = ids.length

  /** Vector dimension of the indexed rows; -1 while empty. */
  def dim: Int =
    if (vecs.nonEmpty) vecs(0).length
    else if (codes.nonEmpty) codes(0).length
    else -1

  /** SQ8 storage (hnswalg.h:132-136 memory model: the graph keeps uint8
    * codes, traversal distances are integer): present iff `quant` is set.
    * Code = round(255·(x−min_d)/span_d) clamped to [0,255], one byte per
    * dimension — 4× smaller resident vectors than float32. Queries are
    * encoded ONCE per search (unclamped ints — query values may fall
    * outside the trained range; clamping them would distort rank order).
    * Traversal distances are then approximate; callers re-rank the
    * returned candidates exactly against the float rows (the dataflow
    * does — [[HnswKnn.knnSq8]]), which is the reference's SQ8+refine
    * composition. */
  private val quantized = quant.isDefined

  // ip + quantization uses SYMMETRIC (zero-offset) codes: the affine
  // scheme's per-dim offsets add candidate-dependent cross terms to a dot
  // product (sum beta_i*alpha_i*x_i), wrecking MIPS rank order; scale-only
  // codes keep the quantized dot a positively-weighted dot. L2 keeps the
  // offset scheme (offsets cancel in differences).
  private val maxAbs: Array[Double] =
    if (quantized && ipMetric) {
      val (mins, spans) = quant.get
      Array.tabulate(mins.length) { i =>
        val m = math.max(math.abs(mins(i)), math.abs(mins(i) + spans(i)))
        if (m > 0) m else 1.0
      }
    } else null

  private def encodeNode(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    if (ipMetric) {
      while (i < v.length) {
        val c = math.round(127.0 * v(i).toDouble / maxAbs(i)).toInt
        out(i) = math.max(-127, math.min(127, c)).toByte
        i += 1
      }
    } else {
      val (mins, spans) = quant.get
      while (i < v.length) {
        val c = math.round(255.0 * (v(i).toDouble - mins(i)) / spans(i)).toInt
        out(i) = math.max(0, math.min(255, c)).toByte
        i += 1
      }
    }
    out
  }

  private def encodeQuery(v: Array[Float]): Array[Int] = {
    if (ipMetric)
      Array.tabulate(v.length)(i =>
        math.round(127.0 * v(i).toDouble / maxAbs(i)).toInt)
    else {
      val (mins, spans) = quant.get
      Array.tabulate(v.length)(i =>
        math.round(255.0 * (v(i).toDouble - mins(i)) / spans(i)).toInt)
    }
  }

  /** This index's metric as a plain pair distance — the SAME accumulation
    * [[search]] ranks by, exposed so an out-of-graph candidate (a delta
    * buffer entry) can be scored bit-identically to graph candidates and
    * merged without rank ambiguity. */
  def pairDist(a: Array[Float], b: Array[Float]): Double = distF(a, b)

  private def distF(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    if (ipMetric) {
      while (i < n) { acc -= a(i).toDouble * b(i).toDouble; i += 1 }
    } else {
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    }
    acc
  }

  /** Integer distance over (query ints, node codes) — pure long
    * accumulation, no float rounding in the traversal hot path. */
  private def distQ(a: Array[Int], b: Array[Byte]): Double = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    if (ipMetric) {
      while (i < n) { acc -= a(i).toLong * b(i); i += 1 } // signed codes
    } else {
      while (i < n) { val d = (a(i) - (b(i) & 0xFF)).toLong; acc += d * d; i += 1 }
    }
    acc.toDouble
  }

  /** A query prepared for this index's storage mode. */
  private final class Prep(val f: Array[Float], val q: Array[Int])
  private def prep(v: Array[Float]): Prep =
    if (quantized) new Prep(null, encodeQuery(v)) else new Prep(v, null)
  /** prepared-query → node distance */
  private def dist(p: Prep, n: Int): Double =
    if (quantized) distQ(p.q, codes(n)) else distF(p.f, vecs(n))
  /** node → node distance */
  private def ndist(a: Int, b: Int): Double =
    if (quantized) distQ8(codes(a), codes(b)) else distF(vecs(a), vecs(b))
  private def distQ8(a: Array[Byte], b: Array[Byte]): Double = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    if (ipMetric) {
      while (i < n) { acc -= a(i).toLong * b(i); i += 1 } // signed codes
    } else {
      while (i < n) { val d = ((a(i) & 0xFF) - (b(i) & 0xFF)).toLong; acc += d * d; i += 1 }
    }
    acc.toDouble
  }

  private def randomLevel(id: Long): Int = {
    val rng = new java.util.Random(id * 2654435761L + 987654321L)
    val u = math.max(rng.nextDouble(), 1e-12)
    (-math.log(u) * levelMult).toInt
  }

  /** Best-first search on one layer from `ep`, beam width `ef`.
    * Returns (nodeIdx, dist) ascending by (dist, node), at most ef entries.
    *
    * Hot kernel: primitive-array binary heaps and a BitSet visited set —
    * no boxing, no tuple allocation per visited node (the boxed
    * PriorityQueue version cost ~2× on the serving probe path). Ordering
    * is (dist, node index) everywhere, so beam membership under distance
    * ties is DETERMINISTIC, not heap-implementation-defined. */
  private def searchLayer(q: Prep, ep: Int, ef: Int, level: Int): mutable.ArrayBuffer[(Int, Double)] = {
    val visited = new java.util.BitSet(size)
    visited.set(ep)
    val epDist = dist(q, ep)

    // candidate MIN-heap on (dist, node)
    var cDist = new Array[Double](math.max(ef * 2, 16))
    var cNode = new Array[Int](cDist.length)
    var cSize = 0
    def cLess(i: Int, j: Int): Boolean =
      cDist(i) < cDist(j) || (cDist(i) == cDist(j) && cNode(i) < cNode(j))
    def cSwap(i: Int, j: Int): Unit = {
      val d = cDist(i); cDist(i) = cDist(j); cDist(j) = d
      val n = cNode(i); cNode(i) = cNode(j); cNode(j) = n
    }
    def cPush(node: Int, d: Double): Unit = {
      if (cSize == cDist.length) {
        cDist = java.util.Arrays.copyOf(cDist, cSize * 2)
        cNode = java.util.Arrays.copyOf(cNode, cSize * 2)
      }
      cDist(cSize) = d; cNode(cSize) = node; cSize += 1
      var i = cSize - 1
      while (i > 0 && cLess(i, (i - 1) / 2)) { cSwap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }
    def cPop(): Unit = { // caller reads index 0 first
      cSize -= 1
      if (cSize > 0) {
        cDist(0) = cDist(cSize); cNode(0) = cNode(cSize)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < cSize && cLess(l, m)) m = l
          if (r < cSize && cLess(r, m)) m = r
          if (m == i) done = true else { cSwap(i, m); i = m }
        }
      }
    }

    // result MAX-heap on (dist, node), bounded by ef; index 0 = worst kept
    val rDist = new Array[Double](ef + 1)
    val rNode = new Array[Int](ef + 1)
    var rSize = 0
    def rGreater(i: Int, j: Int): Boolean =
      rDist(i) > rDist(j) || (rDist(i) == rDist(j) && rNode(i) > rNode(j))
    def rSwap(i: Int, j: Int): Unit = {
      val d = rDist(i); rDist(i) = rDist(j); rDist(j) = d
      val n = rNode(i); rNode(i) = rNode(j); rNode(j) = n
    }
    def rSiftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < rSize && rGreater(l, m)) m = l
        if (r < rSize && rGreater(r, m)) m = r
        if (m == i) done = true else { rSwap(i, m); i = m }
      }
    }
    def rPush(node: Int, d: Double): Unit = {
      rDist(rSize) = d; rNode(rSize) = node; rSize += 1
      var i = rSize - 1
      while (i > 0 && rGreater(i, (i - 1) / 2)) { rSwap(i, (i - 1) / 2); i = (i - 1) / 2 }
      if (rSize > ef) { // evict the worst
        rSize -= 1
        rDist(0) = rDist(rSize); rNode(0) = rNode(rSize)
        rSiftDown()
      }
    }
    // would (d, node) enter the bounded result set?
    def rAdmits(node: Int, d: Double): Boolean =
      rSize < ef || d < rDist(0) || (d == rDist(0) && node < rNode(0))

    cPush(ep, epDist)
    rPush(ep, epDist)
    while (cSize > 0) {
      val c = cNode(0); val d0 = cDist(0)
      // best candidate STRICTLY worse than the worst kept result ⇒ beam
      // exhausted. Ties keep expanding (as in upstream hnswlib): tie-heavy
      // distributions (quantized/low-dim) would otherwise lose beam
      // exploration and shave recall at small efSearch; the bounded result
      // heap's (dist, node) order already makes membership deterministic.
      if (rSize >= ef && d0 > rDist(0)) cSize = 0
      else {
        cPop()
        val linksC = links(c)
        if (level < linksC.length) {
          val neigh = linksC(level)
          var i = 0
          while (i < neigh.length) {
            val e = neigh(i)
            if (!visited.get(e)) {
              visited.set(e)
              val d = dist(q, e)
              if (rAdmits(e, d)) { cPush(e, d); rPush(e, d) }
            }
            i += 1
          }
        }
      }
    }
    val out = new mutable.ArrayBuffer[(Int, Double)](rSize)
    var i = 0
    while (i < rSize) { out += ((rNode(i), rDist(i))); i += 1 }
    out.sortInPlaceWith((a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1))
  }

  /** Greedy single-step descent used on layers above the target. */
  private def greedyStep(q: Prep, start: Int, level: Int): Int = {
    var cur = start
    var curDist = dist(q, cur)
    var improved = true
    while (improved) {
      improved = false
      val neigh = if (level < links(cur).length) links(cur)(level) else mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < neigh.length) {
        val d = dist(q, neigh(i))
        if (d < curDist) { curDist = d; cur = neigh(i); improved = true }
        i += 1
      }
    }
    cur
  }

  /** Neighbor diversification (hnswalg.h:794-834 getNeighborsByHeuristic2):
    * walk candidates ascending by distance to the target; keep one only if
    * it is closer to the target than to every already-kept neighbor. Then
    * keepPrunedConnections (the paper's Alg. 4 option): top up below-cap
    * selections with the closest pruned candidates — pure diversification
    * can leave small graphs under-connected (and at worst disconnected),
    * which shows up directly as recall loss on few-hundred-node partitions. */
  private def selectNeighborsHeuristic(candidates: collection.Seq[(Int, Double)],
                                       cap: Int): mutable.ArrayBuffer[Int] = {
    val sorted = candidates.sortBy(_._2)
    val kept = mutable.ArrayBuffer.empty[(Int, Double)]
    val pruned = mutable.ArrayBuffer.empty[(Int, Double)]
    var i = 0
    while (i < sorted.length && kept.length < cap) {
      val (c, dC) = sorted(i)
      var good = true
      var j = 0
      while (j < kept.length && good) {
        if (ndist(c, kept(j)._1) < dC) good = false
        j += 1
      }
      if (good) kept += ((c, dC)) else pruned += ((c, dC))
      i += 1
    }
    var p = 0
    while (kept.length < cap && p < pruned.length) {
      kept += pruned(p)
      p += 1
    }
    kept.map(_._1)
  }

  def add(id: Long, vec: Array[Float]): Unit = {
    val node = ids.length
    val level = randomLevel(id)
    ids += id; levels += level
    if (quantized) codes += encodeNode(vec) else vecs += vec
    links += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
    if (entryPoint < 0) { entryPoint = node; maxLevel = level; return }

    val p = prep(vec)
    var ep = entryPoint
    var l = maxLevel
    while (l > level) { ep = greedyStep(p, ep, l); l -= 1 }
    l = math.min(level, maxLevel)
    while (l >= 0) {
      val found = searchLayer(p, ep, efConstruction, l)
      val cap = if (l == 0) maxM0 else maxM
      val selected = selectNeighborsHeuristic(found.filter(_._1 != node), m)
      links(node)(l) = selected
      selected.foreach { n =>
        val back = links(n)(l)
        back += node
        if (back.length > cap) {
          // re-select n's neighbors with the same diversification heuristic
          val withD = back.map(x => (x, ndist(n, x)))
          links(n)(l) = selectNeighborsHeuristic(withD, cap)
        }
      }
      ep = if (found.nonEmpty) found.head._1 else ep
      l -= 1
    }
    if (level > maxLevel) { maxLevel = level; entryPoint = node }
  }

  /** Top-k search with an optional admission predicate on row ids —
    * delegates to [[searchFiltered]], whose expand-until-k guarantee is a
    * no-op for the always-true predicate (a single fixed-ef pass). */
  def search(q: Array[Float], k: Int, ef: Int,
             allowed: Long => Boolean = _ => true): Array[(Long, Double)] =
    searchFiltered(q, k, ef, allowed)

  /** One-stage filtered top-k (the reference's novel contribution:
    * bindings.cpp:724-841 hop-bounded BFS widened until ≥ k allowed
    * candidates, then exact re-rank, hnswalg.h:1993-2033). The beam
    * traverses blocked nodes freely (the graph stays connected under
    * selective filters); only allowed ids are admitted to the result. If a
    * pass admits fewer than k, the beam width doubles — the ef analog of
    * the reference's radius widening — and once the beam covers the whole
    * graph an exact scan over the partition's allowed rows guarantees the
    * candidate count even if the filter disconnects the graph. Distances
    * are exact throughout, so the reference's final re-rank is inherent. */
  def searchFiltered(q: Array[Float], k: Int, ef0: Int,
                     allowed: Long => Boolean): Array[(Long, Double)] = {
    if (entryPoint < 0) return Array.empty
    val p = prep(q)
    // ef ≥ n: a graph walk can still miss nodes (links are DIRECTED; a
    // back-link pruned by the diversification heuristic leaves its node
    // unreachable from the entry point), so the degenerate beam is served
    // by a true exact scan — same O(n·d) work as an n-wide beam, minus the
    // heap, and it makes "exhaustive ef ⇒ exact" an unconditional
    // guarantee (the *_exact driver gates and HnswPropertySpec rely on it).
    if (math.max(ef0, k) >= size) return exactScan(p, k, allowed)
    var ep = entryPoint
    var l = maxLevel
    while (l > 0) { ep = greedyStep(p, ep, l); l -= 1 }
    var ef = math.max(ef0, k)
    while (true) {
      val found = searchLayer(p, ep, ef, 0)
      // canonical (dist, id) order — searchLayer sorts by dist only, so a
      // tie at the k-boundary would otherwise surface in heap order
      val adm = found.iterator
        .map { case (n, d) => (ids(n), d) }
        .filter { case (id, _) => allowed(id) }
        .toArray.sortBy(t => (t._2, t._1))
      if (adm.length >= k) return adm.take(k)
      // beam starved (selective filter or small partition): widen; once the
      // beam would cover the whole graph, the exact scan answers instead
      ef = math.min(ef.toLong * 2, size.toLong).toInt
      if (ef >= size) return exactScan(p, k, allowed)
    }
    throw new IllegalStateException("unreachable")
  }

  private def exactScan(p: Prep, k: Int,
                        allowed: Long => Boolean): Array[(Long, Double)] =
    ids.indices.iterator
      .filter(n => allowed(ids(n)))
      .map(n => (ids(n), dist(p, n)))
      .toArray.sortBy(t => (t._2, t._1)).take(k)

  /** Per-node state in insertion order, for persistence (S7/X4; the
    * reference's saveIndex serializes the same fields — links, vector,
    * level — hnswalg.h:1224-1253). Float-mode only. */
  def exportNodes: IndexedSeq[(Long, Array[Float], Int, Array[Array[Int]])] =
    ids.indices.map(n => (ids(n), vecs(n), levels(n), links(n).map(_.toArray)))

  /** Per-node state for a QUANTIZED index: codes instead of vectors —
    * the 4×-smaller artifact (hnswalg.h stores the uint8 arena, not
    * floats). */
  def exportNodesSq8: IndexedSeq[(Long, Array[Byte], Int, Array[Array[Int]])] =
    ids.indices.map(n => (ids(n), codes(n), levels(n), links(n).map(_.toArray)))

  /** (entryPoint, maxLevel) — the only non-per-node state. */
  def entryState: (Int, Int) = (entryPoint, maxLevel)
}

object HnswIndex {
  /** Rebuild an index from persisted state WITHOUT re-running insertion —
    * the loadIndex analog (hnswalg.h:1255-1362): arrays are filled
    * directly, so loading costs O(n) deserialization, not O(n log n)
    * graph construction. `nodes` must be in the original insertion order. */
  def fromState(nodes: IndexedSeq[(Long, Array[Float], Int, Array[Array[Int]])],
                entryPoint: Int, maxLevel: Int,
                metric: String = "l2"): HnswIndex = {
    val idx = new HnswIndex(metric = metric)
    nodes.foreach { case (id, v, lvl, lk) =>
      idx.ids += id; idx.vecs += v; idx.levels += lvl
      idx.links += lk.map(a => mutable.ArrayBuffer.from(a))
    }
    idx.entryPoint = entryPoint
    idx.maxLevel = maxLevel
    idx
  }

  /** Rebuild a QUANTIZED index from persisted codes — same O(n) array
    * fill; `quantParams` must be the (mins, spans) the codes were encoded
    * with (persisted alongside the graph — [[HnswKnn.buildAndSaveSq8]]). */
  def fromStateSq8(nodes: IndexedSeq[(Long, Array[Byte], Int, Array[Array[Int]])],
                   entryPoint: Int, maxLevel: Int, metric: String,
                   quantParams: (Array[Double], Array[Double])): HnswIndex = {
    val idx = new HnswIndex(metric = metric, quant = Some(quantParams))
    nodes.foreach { case (id, c, lvl, lk) =>
      idx.ids += id; idx.codes += c; idx.levels += lvl
      idx.links += lk.map(a => mutable.ArrayBuffer.from(a))
    }
    idx.entryPoint = entryPoint
    idx.maxLevel = maxLevel
    idx
  }
}
