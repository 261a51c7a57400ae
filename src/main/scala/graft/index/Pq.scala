package graft.index

import graft.functions.vectors._
import graft.operators.{Metric, TopK}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the other classic faiss compression next to
  * the reference baseline's SQ8 (`indexkey=IVF16384,SQ8`,
  * /root/reference/filter/faiss/config.yaml:50-53): split each vector into
  * `m` subspaces of `dsub = d/m` dims, k-means each subspace to `ksub`
  * centroids, store each row as `m` small codes. Memory per row drops from
  * 4·d bytes to m·log2(ksub) bits — at 100 TB this is the difference
  * between "embeddings fit executor memory" and "they don't".
  *
  * Query-side scoring is ADC (asymmetric distance computation): compute a
  * per-query lookup table of partial distances to every subspace centroid
  * ONCE (m·ksub entries, a narrow projection over the tiny query set), then
  * score every candidate with an O(m) table gather — the
  * [[graft.functions.PqAdcDist]] codegen kernel — instead of an O(d) float
  * loop. Exact float re-rank of the `rerank` best restores recall, the same
  * candidates-first-verify-later shape as [[Sq8.knnSq8]].
  *
  * Degenerate point (how the driver hash-gates an approximate structure):
  * with a codebook holding EVERY distinct subvector ([[trainLossless]]),
  * quantization error is zero, ADC equals exact distance, and the top-k
  * matches the brute-force oracle row for row — the same technique as IVF
  * probed at nprobe = C and HNSW searched at ef ≥ partition size.
  *
  * Spark shape: training is m small k-means fits over sliced vectors (train
  * on a sample at scale — same note as [[KMeans]]); encoding is a map-side
  * projection; the scan is codes ⨯ broadcast(query LUTs) with map-side
  * partial top-k below the exchange. The corpus never shuffles.
  */
object Pq {

  /** Trained codebook: `books(j)(c)` = centroid c of subspace j. `stride`
    * is the LUT row width (≥ every books(j).length); codes are SHORT so
    * ksub up to 32k works — the lossless degenerate point needs more than
    * the classic 256. */
  final case class Codebook(dsub: Int, books: Array[Array[Array[Float]]]) {
    def m: Int = books.length
    def stride: Int = books.map(_.length).max
  }

  private def dim(base: DataFrame): Int =
    base.select(size(col("vec"))).head().getInt(0)

  private def subCol(j: Int, dsub: Int): Column =
    slice(col("vec"), j * dsub + 1, dsub)

  /** Train all m codebooks in ONE multi-subspace Lloyd's loop
    * (deterministic lowest-id init, same as [[KMeans.fit]]): the base
    * explodes once into (subspace, subvector) rows, every iteration is one
    * map-side argmin against the full codebook closure plus one grouped
    * mean — iters+1 corpus passes TOTAL, independent of m (m separate
    * [[KMeans.fit]] calls would pay m·iters passes — the difference between
    * 4 and 24 scans at 100 TB). Train on a sample at scale, as with
    * [[KMeans]]. */
  def train(base: DataFrame, m: Int, ksub: Int, iters: Int): Codebook = {
    val d = dim(base)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val subs = base.select(col("id"), posexplode(
      expr(s"transform(sequence(0, ${m - 1}), j -> slice(vec, j * $dsub + 1, $dsub))"))
      .as(Seq("sub", "svec")))
      .persist()
    // init: subvectors of the ksub lowest-id rows, every subspace at once
    var books: Array[Array[Array[Float]]] = {
      val init = base.orderBy("id").limit(ksub).select("vec").collect()
        .map(_.getSeq[Float](0).toArray)
      Array.tabulate(m)(j => init.map(_.slice(j * dsub, (j + 1) * dsub)))
    }
    for (_ <- 0 until iters) {
      val cur = books
      val assignU = udf { (sub: Int, svec: Seq[Float]) =>
        val v = svec.toArray
        val bk = cur(sub)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < bk.length) {
          val cent = bk(c)
          var acc = 0.0
          var i = 0
          while (i < v.length) {
            val t = v(i).toDouble - cent(i).toDouble
            acc += t * t
            i += 1
          }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        best
      }
      val next = subs
        .withColumn("cid", assignU(col("sub"), col("svec")))
        .groupBy("sub", "cid")
        .agg(graft.functions.VectorAggs.vecMean(col("svec")).as("cvec"))
        .collect()
      // empty clusters vanish from the groupBy; compact each book in cid
      // order (codes are positions in the compacted book — [[encode]]
      // argmins over whatever survives, so the mapping stays consistent)
      books = Array.tabulate(m) { j =>
        next.filter(_.getInt(0) == j)
          .sortBy(_.getInt(1))
          .map(_.getSeq[Float](2).toArray)
      }
    }
    subs.unpersist()
    Codebook(dsub, books)
  }

  /** Lossless codebook: every distinct subvector becomes a centroid
    * (deterministic lexicographic order), so encoding round-trips exactly.
    * This is the hash-gate/test path — at scale you'd train [[train]] on a
    * sample instead. All m subspaces dedupe in ONE exploded distinct pass
    * (m separate distinct jobs cost m corpus scans). */
  def trainLossless(base: DataFrame, m: Int): Codebook = {
    val d = dim(base)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val rows = base.select(posexplode(
      expr(s"transform(sequence(0, ${m - 1}), j -> slice(vec, j * $dsub + 1, $dsub))"))
      .as(Seq("sub", "svec")))
      .distinct()
      .collect()
    val books = Array.tabulate(m) { j =>
      val distinct = rows.filter(_.getInt(0) == j)
        .map(_.getSeq[Float](1).toArray)
      require(distinct.length <= Short.MaxValue,
        s"subspace $j has ${distinct.length} distinct subvectors — too many for SHORT codes")
      distinct.sortWith { (a, b) =>
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n && a(i) == b(i)) i += 1
        if (i < n) a(i) < b(i) else a.length < b.length
      }
    }
    Codebook(dsub, books)
  }

  /** Map-side encoder: (…, vec) → (…, codes ARRAY<SHORT>), argmin centroid
    * per subspace (ties to the lowest code — deterministic). The codebook
    * travels in the closure (m·ksub·dsub floats — small by construction). */
  def encode(df: DataFrame, cb: Codebook): DataFrame = {
    val books = cb.books
    val dsub = cb.dsub
    val enc = udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      Array.tabulate(books.length) { j =>
        val off = j * dsub
        val bk = books(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < bk.length) {
          val cent = bk(c)
          var d = 0.0
          var i = 0
          while (i < dsub) {
            val t = v(off + i).toDouble - cent(i).toDouble
            d += t * t
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best.toShort
      }
    }
    df.withColumn("codes", enc(col("vec")))
  }

  /** Per-query flattened ADC LUT (ARRAY<DOUBLE>, stride [[Codebook.stride]]):
    * entry j·stride+c = partial squared-L2 (or negated partial dot for ip)
    * between the query's subspace-j slice and centroid c. Unused tail slots
    * of ragged books hold MaxValue so an out-of-book code loses loudly
    * rather than silently ranking well. */
  def lutCol(qvecCol: Column, cb: Codebook, metric: String): Column = {
    val books = cb.books
    val dsub = cb.dsub
    val stride = cb.stride
    val ip = metric == Metric.Ip
    val mk = udf { (qvec: Seq[Float]) =>
      lutOf(qvec.toArray, books, dsub, stride, ip)
    }
    mk(qvecCol)
  }

  /** Driver/executor-local LUT builder — the same table [[lutCol]] computes
    * inside the plan, for serving paths that prepare query batches outside
    * it ([[ResidentCodes]]). */
  def lutLocal(q: Array[Float], cb: Codebook, metric: String): Array[Double] =
    lutOf(q, cb.books, cb.dsub, cb.stride, metric == Metric.Ip)

  private def lutOf(q: Array[Float], books: Array[Array[Array[Float]]],
                    dsub: Int, stride: Int, ip: Boolean): Array[Double] = {
    val lut = Array.fill(books.length * stride)(Double.MaxValue)
    var j = 0
    while (j < books.length) {
      val off = j * dsub
      val bk = books(j)
      var c = 0
      while (c < bk.length) {
        val cent = bk(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          if (ip) acc -= q(off + i).toDouble * cent(i).toDouble
          else {
            val t = q(off + i).toDouble - cent(i).toDouble
            acc += t * t
          }
          i += 1
        }
        lut(j * stride + c) = acc
        c += 1
      }
      j += 1
    }
    lut
  }

  /** PQ-ADC kNN with exact re-rank: gather-score all codes per query (O(m)
    * per pair via [[graft.functions.PqAdcDist]]), keep `rerank` candidates,
    * re-rank those with the exact float kernel. rerank ≥ k; with a lossless
    * codebook the result equals brute force exactly. */
  def adcKnn(queries: DataFrame, base: DataFrame, cb: Codebook, k: Int,
             rerank: Int, metric: String = Metric.L2): DataFrame =
    adcKnnCodes(queries, encode(base, cb).select("id", "codes"), base, cb,
      k, rerank, metric)

  /** [[adcKnn]] over PRE-ENCODED codes (the persisted-index probe path —
    * encoding happened at build time; probes only read the compact codes
    * table plus, for the re-rank rows only, the float vectors). */
  def adcKnnCodes(queries: DataFrame, codes: DataFrame, base: DataFrame,
                  cb: Codebook, k: Int, rerank: Int,
                  metric: String = Metric.L2): DataFrame = {
    val q = queries.select(col("qid"), lutCol(col("qvec"), cb, metric).as("lut"))
    val scored = codes.crossJoin(broadcast(q))
      .withColumn("dist", pqAdcDist(col("lut"), col("codes"), cb.stride))
    val cand = TopK.aggTopK(scored, "qid", "id", "dist", rerank).select("qid", "id")
    val exact = cand
      .join(base.select("id", "vec"), "id")
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .withColumn("dist", Metric.distColumn(metric, col("qvec"), col("vec")))
    TopK.aggTopK(exact, "qid", "id", "dist", k)
  }

  /** Persist the index as parquet artifacts (S7/X4 analog, like
    * [[IvfIndex.save]]): the codebook as one tiny (sub, cid, cvec) table,
    * the codes as a columnar table m·2 bytes wide per row — the artifact a
    * 100 TB corpus actually serves from (floats are only read by the
    * re-rank, directly from the base table). */
  def save(base: DataFrame, cb: Codebook, path: String): Unit =
    saveArtifacts(base.sparkSession, cb,
      encode(base, cb).select("id", "codes"), path)

  /** [[save]] with codes already encoded (build-once callers). */
  def saveArtifacts(spark: org.apache.spark.sql.SparkSession, cb: Codebook,
                    codes: DataFrame, path: String): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (bk, j) =>
      bk.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("sub", "cid", "cvec")
      .write.mode("overwrite").parquet(s"$path/codebook")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a persisted index: (codebook, codes). Probe with
    * [[adcKnnCodes]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): (Codebook, DataFrame) = {
    val rows = spark.read.parquet(s"$path/codebook")
      .select(col("sub"), col("cid"), col("cvec")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val books = Array.tabulate(m) { j =>
      rows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
        .map(_.getSeq[Float](2).toArray)
    }
    (Codebook(books.head.head.length, books),
      spark.read.parquet(s"$path/codes"))
  }
}

/** IVF coarse routing over PQ-coded lists — faiss's classic `IVFx,PQy`
  * composition (sibling of the reference baseline's IVF+SQ8): cluster
  * pruning bounds scan VOLUME, PQ bounds scan WIDTH (m bytes/row instead of
  * 4·d), exact re-rank restores recall from the union of both errors.
  * nprobe = C with a lossless codebook and rerank = n degenerates to exact
  * brute force (asserted in PqSpec). */
object IvfPq {

  def knn(queries: DataFrame, base: DataFrame, k: Int, c: Int, iters: Int,
          nprobe: Int, m: Int, ksub: Int, rerank: Int): DataFrame = {
    val ivf = IvfIndex.build(base, c, iters)
    val cb = Pq.train(base, m, ksub, iters)
    knnWith(ivf, cb, queries, base, k, nprobe, rerank)
  }

  /** Residual-encoded IVF-PQ — faiss's actual IVFPQ construction: each row
    * is PQ-coded as its RESIDUAL against its cluster's centroid (residuals
    * concentrate near zero, so a given codebook budget quantizes them much
    * finer than raw vectors), and at query time the LUT is built per
    * (query, routed cluster) from the query's residual against THAT
    * centroid. ‖(q−c) − (x−c)‖ = ‖q−x‖, so with a lossless residual
    * codebook the scan is exact (PqSpec-gated). Per-route LUTs cost
    * nq·nprobe·m·ksub — still a broadcast-sized table; codes join on cid,
    * so the scan stays cluster-pruned. */
  def knnResidual(queries: DataFrame, base: DataFrame, k: Int, c: Int,
                  iters: Int, nprobe: Int, m: Int, ksub: Int, rerank: Int,
                  lossless: Boolean = false): DataFrame =
    buildResidual(base, c, iters, m, ksub, lossless)
      .probe(queries, base, k, nprobe, rerank)

  /** Build the residual index pieces once (build-once/probe-many and the
    * persistence path). */
  def buildResidual(base: DataFrame, c: Int, iters: Int, m: Int, ksub: Int,
                    lossless: Boolean = false): IvfPqIndex =
    buildResidualWith(IvfIndex.build(base, c, iters), base, m, ksub, iters,
      lossless)

  /** [[buildResidual]] over a PREBUILT coarse quantizer — at a
    * corpus-relative C the k-means training is the expensive build step,
    * and the SQ8 / raw-ADC / residual-ADC serving forms all route through
    * the same quantizer, so one training serves all three. */
  def buildResidualWith(ivf: IvfIndex, base: DataFrame, m: Int, ksub: Int,
                        iters: Int, lossless: Boolean = false): IvfPqIndex = {
    val resBase = ivf.assigned.join(base.select("id", "vec"), "id")
      .select(col("id"), col("cid"),
        residualCol(ivf, col("vec"), col("cid")).as("vec"))
    val cb =
      if (lossless) Pq.trainLossless(resBase, m)
      else Pq.train(resBase, m, ksub, iters)
    IvfPqIndex(ivf, cb, Pq.encode(resBase, cb).select("id", "cid", "codes"))
  }

  /** vec − centroid(cid), the centroid map in the closure (tiny). */
  private[index] def residualCol(ivf: IvfIndex,
                                 vecCol: org.apache.spark.sql.Column,
                                 cidCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val cents: Map[Long, Array[Float]] = ivf.centroids
      .select(col("cid").cast("long"), col("cvec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val resU = udf { (vec: Seq[Float], cid: Long) =>
      val cvec = cents(cid)
      Array.tabulate(vec.length)(i => vec(i) - cvec(i))
    }
    resU(vecCol, cidCol)
  }

  /** The residual index as persistable pieces: coarse quantizer, residual
    * codebook, (id, cid, codes) table. `probe` routes, builds per-(query,
    * routed-cluster) residual LUTs, gather-scans codes cluster-pruned via
    * the cid join, and re-ranks exactly against the float base. */
  final case class IvfPqIndex(ivf: IvfIndex, cb: Pq.Codebook, codes: DataFrame) {

    def probe(queries: DataFrame, base: DataFrame, k: Int, nprobe: Int,
              rerank: Int): DataFrame = {
      val routes = TopK.aggTopK(
        queries.select("qid", "qvec").crossJoin(broadcast(ivf.centroids))
          .withColumn("dist", Metric.distColumn(Metric.L2, col("qvec"), col("cvec"))),
        "qid", "cid", "dist", nprobe)
        .select("qid", "cid")
      val qluts = routes
        .join(broadcast(queries.select("qid", "qvec")), "qid")
        .select(col("qid"), col("cid"),
          Pq.lutCol(residualCol(ivf, col("qvec"), col("cid")), cb, Metric.L2).as("lut"))
      val scored = codes
        .join(broadcast(qluts), Seq("cid"))
        .withColumn("dist", pqAdcDist(col("lut"), col("codes"), cb.stride))
      val survivors = TopK.aggTopK(scored, "qid", "id", "dist", rerank)
        .select("qid", "id")
      val exact = survivors
        .join(base.select("id", "vec"), "id")
        .join(broadcast(queries.select("qid", "qvec")), "qid")
        .withColumn("dist", Metric.distColumn(Metric.L2, col("qvec"), col("vec")))
      TopK.aggTopK(exact, "qid", "id", "dist", k)
    }

    def save(path: String): Unit = {
      IvfIndex.save(ivf, s"$path/ivf")
      Pq.saveArtifacts(codes.sparkSession, cb, codes, s"$path/pq")
    }
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val (cb, codes) = Pq.load(spark, s"$path/pq")
    IvfPqIndex(IvfIndex.load(spark, s"$path/ivf"), cb, codes)
  }

  def knnWith(ivf: IvfIndex, cb: Pq.Codebook, queries: DataFrame,
              base: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val routes = TopK.aggTopK(
      queries.select("qid", "qvec").crossJoin(broadcast(ivf.centroids))
        .withColumn("dist", Metric.distColumn(Metric.L2, col("qvec"), col("cvec"))),
      "qid", "cid", "dist", nprobe)
      .select("qid", "cid")
    val cand = routes.join(ivf.assigned, "cid").select("qid", "id")
    val codes = Pq.encode(base, cb).select("id", "codes")
    val q = queries.select(col("qid"), Pq.lutCol(col("qvec"), cb, Metric.L2).as("lut"))
    val scored = cand
      .join(codes, "id")
      .join(broadcast(q), "qid")
      .withColumn("dist", pqAdcDist(col("lut"), col("codes"), cb.stride))
    val survivors = TopK.aggTopK(scored, "qid", "id", "dist", rerank)
      .select("qid", "id")
    val exact = survivors
      .join(base.select("id", "vec"), "id")
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .withColumn("dist", Metric.distColumn(Metric.L2, col("qvec"), col("vec")))
    TopK.aggTopK(exact, "qid", "id", "dist", k)
  }
}
