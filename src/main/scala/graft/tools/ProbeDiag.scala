package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic harness for the resident-graph probe paths: per-rep batch
  * times under each metric and ordering, to attribute throughput variance
  * (JIT warm-up vs GC vs scheduling) before changing the hot path. Not part
  * of the driver contract; run manually:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt 'runMain graft.tools.ProbeDiag'
  */
object ProbeDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val nq = math.min(500L, n / 2).toInt
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val qs = graft.index.ResidentServe.queries(queries)

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    def measure(metric: String, warm: Int, reps: Int): Unit = {
      val path = java.nio.file.Files.createTempDirectory(s"probe-diag-$metric")
        .resolve("idx").toString
      graft.index.HnswKnn.buildAndSave(base, path, numPartitions = 8,
        metric = metric)
      val resident = graft.index.HnswKnn.loadResident(spark, path)
      (1 to warm).foreach(_ => resident.probeBatch(qs, 10, 16))
      val rows = (1 to reps).map { r =>
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val cnt = resident.probeBatch(qs, 10, 16).length
        val dt = (System.nanoTime() - t0) / 1e6
        val gc = gcMillis() - g0
        f"rep=$r%2d ${dt}%8.1f ms  gc=${gc}%4d ms  rows=$cnt"
      }
      resident.unload()
      println(s"== metric=$metric warm=$warm n=$n nq=$nq")
      rows.foreach(println)
    }

    args.headOption.getOrElse("both") match {
      case "ip-first" =>
        measure("ip", warm = 1, reps = 10); measure("l2", warm = 1, reps = 10)
      case "ip-only" => measure("ip", warm = 1, reps = 10)
      case "warm3" =>
        measure("l2", warm = 3, reps = 10); measure("ip", warm = 3, reps = 10)
      case "subidx" => // decompose the pair-subindex gate: build vs probe
        val tagged = graft.operators.TagFilter.withTags(emb)
        val path = java.nio.file.Files.createTempDirectory("diag-pair")
          .resolve("reg").toString
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"$label%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
        }
        val post = graft.operators.TagFilter.postings(tagged)
        t("pairDiscovery") {
          post.as("a")
            .join(post.as("b"),
              col("a.id") === col("b.id") && col("a.tag") < col("b.tag"))
            .groupBy(col("a.tag").as("t1"), col("b.tag").as("t2"))
            .agg(count(lit(1)).as("cnt"))
            .where(col("cnt") >= 1)
            .select("t1", "t2").collect().length
        }
        val pairs = t("buildPairs") {
          graft.index.TagSubindexes.buildPairs(tagged, path,
            minPairCount = 1, numPartitions = 2)
        }
        println(s"pairs built: ${pairs.size}")
        val q = graft.operators.TagFilter.tagQueries(emb, 10)
          .select(col("qid"), col("qvec"),
            col("qtags").getItem(0).as("qtag1"),
            col("qtags").getItem(1).as("qtag2"))
        val reg = t("loadResident") {
          graft.index.TagSubindexes.loadResident(spark, path)
        }
        reg.unload()
        (1 to 3).foreach { i =>
          t(s"probePairs#$i") {
            graft.index.TagSubindexes.probePairs(spark, path, q, k = 10,
              efSearch = 1 << 20).count()
          }
        }
      case "subtag" => // decompose the single-tag subindex gate
        val tagged = graft.operators.TagFilter.withTags(emb)
        val path = java.nio.file.Files.createTempDirectory("diag-tag")
          .resolve("reg").toString
        def t[A](label: String)(f: => A): A = {
          val t0 = System.nanoTime(); val r = f
          println(f"$label%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
        }
        t("warmup")(emb.count())
        t("tagStats") {
          graft.operators.TagFilter.tagStats(tagged)
            .where(col("freq_bp") >= 500).select("tag").collect().length
        }
        val hot = t("build") {
          graft.index.TagSubindexes.build(tagged, path, minFreqBp = 500,
            numPartitions = 2)
        }
        println(s"tags built: ${hot.size}")
        val q = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qtag"))
        (1 to 3).foreach { i =>
          t(s"probe#$i") {
            graft.index.TagSubindexes.probe(spark, path, q, k = 10,
              efSearch = 1 << 20).count()
          }
        }
      case "sparse" => // recall of the postings budget vs exact MIPS by m
        val tf = graft.operators.Sparse.fromTermFreq(
          graft.Tables.documents(spark, sfDir))
        val sparseNq = math.min(200L,
          graft.Tables.documents(spark, sfDir).count() / 2).toInt
        val sq = tf.where(col("id") < sparseNq)
          .select(col("id").as("qid"), col("dim"), col("v").as("qv"))
        val truth = graft.operators.Sparse.mips(sq, tf, 10).cache()
        truth.count()
        Seq(16, 64, 256, 1024).foreach { m =>
          val got = graft.operators.Sparse.budgetedMips(sq, tf, 10, m)
          println(f"[sparse] m=$m%5d recall=${graft.operators.Recall.mean(got, truth, 10)}%.4f")
        }
      case "queries" => // time named SparkEntry queries: queries q1 q2 ...
        args.drop(1).foreach { name =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          println(f"$name%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
          spark.sqlContext.clearCache()
        }
      case _ =>
        measure("l2", warm = 1, reps = 10); measure("ip", warm = 1, reps = 10)
    }
    spark.stop()
  }
}
