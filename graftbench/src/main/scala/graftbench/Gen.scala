package graftbench

import java.util.Random

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row), so the driver (which computes the benchmark's own
  * truth) and the executors (which build the DataFrames the program
  * receives) produce identical rows without shipping them.
  *
  * The shapes follow FIXTURES.md: a clustered dense corpus (§1/§2) with an
  * off-distribution query shift, Zipf tag bags of 1–8 tags (§1), Zipf sparse
  * vectors with ~120 nnz per doc and ~49 per query (§3), and a delete-runbook
  * op sequence over contiguous per-cluster id ranges (§4). They match the
  * shape of the reference datasets, not their bytes: the reference files are
  * not part of this repository. */
object Gen {

  /** splitmix64 finaliser: decorrelates neighbouring seeds and rows. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): Random =
    new Random(mix(mix(mix(seed) + stream) + i))

  private def normalise(v: Array[Float]): Array[Float] = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    val inv = 1.0 / math.sqrt(math.max(s, 1e-30))
    v.map(x => (x * inv).toFloat)
  }

  /** Unit-norm cluster centres. */
  def centres(seed: Long, stream: Long, c: Int, d: Int): Array[Array[Float]] =
    Array.tabulate(c) { j =>
      val r = rng(seed, stream, -1L - j)
      normalise(Array.fill(d)(r.nextGaussian().toFloat))
    }

  def around(r: Random, centre: Array[Float], sigma: Double,
             unit: Boolean): Array[Float] = {
    val per = sigma / math.sqrt(centre.length.toDouble)
    val v = centre.map(x => (x + per * r.nextGaussian()).toFloat)
    if (unit) normalise(v) else v
  }

  /** Clustered dense corpus: row i sits around centre `label(i)` with
    * per-coordinate noise sigma/sqrt(d). `contiguous` lays clusters out as
    * consecutive id ranges, as the streaming generator pre-permutes them. */
  final case class Dense(seed: Long, stream: Long, n: Int, d: Int,
                         clusters: Int, sigma: Double, unit: Boolean,
                         contiguous: Boolean) {
    @transient lazy val cs: Array[Array[Float]] = centres(seed, stream, clusters, d)
    def label(i: Int): Int =
      if (contiguous) (i.toLong * clusters / n).toInt
      else rng(seed, stream + 1, i).nextInt(clusters)
    def row(i: Int): Array[Float] =
      around(rng(seed, stream + 2, i), cs(label(i)), sigma, unit)
    /** In-distribution query: a random centre plus the corpus noise. */
    def nearQuery(q: Int): Array[Float] = {
      val r = rng(seed, stream + 3, q)
      around(r, cs(r.nextInt(clusters)), sigma, unit)
    }
    /** Off-distribution query: the normalised midpoint of two distinct
      * random centres plus noise, so its neighbours straddle cells. */
    def oodQuery(q: Int): Array[Float] = {
      val r = rng(seed, stream + 4, q)
      val a = r.nextInt(clusters)
      val b = (a + 1 + r.nextInt(clusters - 1)) % clusters
      val mid = normalise(Array.tabulate(d)(j => cs(a)(j) + cs(b)(j)))
      around(r, mid, sigma, unit)
    }
  }

  /** Zipf(s) over ranks 0 until n; rank 0 is the most frequent. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private lazy val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: Random): Int = {
      val p = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (p >= 0) p else -p - 1, n - 1)
    }
    /** `m` distinct draws, sorted ascending. */
    def distinct(r: Random, m: Int): Array[Int] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (seen.size < m) seen += sample(r)
      seen.toArray.sorted
    }
  }

  /** Tag bags of 1–`maxTags` distinct Zipf tags over a `vocab` vocabulary. */
  final case class Tags(seed: Long, stream: Long, vocab: Int, s: Double,
                        maxTags: Int) {
    @transient lazy val z = new Zipf(vocab, s)
    def row(i: Int): Array[Int] = {
      val r = rng(seed, stream, i)
      z.distinct(r, 1 + r.nextInt(maxTags))
    }
  }

  /** Sparse vectors with positive integer weights (the program's tf
    * domain): nnz uniform in [nnzLo, nnzHi], dims Zipf over `vocab`,
    * weights 1 + a geometric-ish tail up to `wMax`. */
  final case class Sparse(seed: Long, stream: Long, vocab: Int, s: Double,
                          nnzLo: Int, nnzHi: Int, wMax: Int) {
    @transient lazy val z = new Zipf(vocab, s)
    def row(i: Int): (Array[Int], Array[Long]) = {
      val r = rng(seed, stream, i)
      val dims = z.distinct(r, nnzLo + r.nextInt(nnzHi - nnzLo + 1))
      val ws = dims.map(_ => math.min(wMax.toLong,
        1L + (-math.log(1.0 - r.nextDouble()) * wMax / 6).toLong))
      (dims, ws)
    }
  }

  /** A delete-runbook op sequence (FIXTURES.md §4 shape) over `cycles`
    * equal contiguous cluster ranges: `cycles` insert→search cycles, each
    * inserting the next cluster of a seeded permutation, and `deletes`
    * deletes, evenly spaced from cycle `firstDelete` on, each removing the
    * oldest live cluster (the first `wide` of them the oldest two) before
    * that cycle's insert. The seed picks which ranges move; the step
    * structure, and so the work per pass, is the same for every seed.
    * Steps are (op, start, end) with end exclusive. */
  def runbook(seed: Long, n: Int, cycles: Int, deletes: Int, wide: Int,
              firstDelete: Int): Seq[(String, Long, Long)] = {
    val order = scala.util.Random.javaRandomToRandom(rng(seed, 900, 0))
      .shuffle((0 until cycles).toList).toArray
    val at = (0 until deletes).map(d => firstDelete + d * (cycles - firstDelete) / deletes)
    def lo(c: Int): Long = c.toLong * n / cycles
    val out = Seq.newBuilder[(String, Long, Long)]
    var oldest = 0
    (0 until cycles).foreach { c =>
      val d = at.indexOf(c)
      if (d >= 0) (0 until (if (d < wide) 2 else 1)).foreach { _ =>
        if (oldest < c - 1) {
          out += (("delete", lo(order(oldest)), lo(order(oldest) + 1)))
          oldest += 1
        }
      }
      out += (("insert", lo(order(c)), lo(order(c) + 1)))
      out += (("search", 0L, 0L))
    }
    out.result()
  }
}
