package graft
package entries

import graft.Gate._
import graft.SparkEntry._
import graft.functions.vectors._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Filter track: conjunctive tags, postings, signatures, routing, the
  * planner, per-tag subindexes and the filtered graph search. */
object FilterTrack {

  /** The exact 2-tag conjunctive filter: both derived query tags must be
    * in the base row's derived tag set. */
  private val conjFilter = "e.label = q.qlabel AND e.vec_id % 7 = (q.qid * 3 + 1) % 7"

  /** A conjunctive 2-tag gate: the first `nq` embeddings with their two
    * derived tags query the tagged corpus; rows (qid, neighbor_id, rank). */
  private def tagKnn(s: SparkSession, dir: String, nq: Int = 20)(
      f: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnResult(f(TagFilter.tagQueries(emb, nq), TagFilter.withTags(emb)))
  }

  /** The planner's mixed batch: 2-tag queries (rarest ≈ 1000 bp → exact
    * brute-force branch) and single-mod7-tag queries (1428 bp → one-stage
    * graph branch). */
  private def plannerQueries(emb: DataFrame): DataFrame =
    TagFilter.tagQueries(emb, 10).unionByName(
      emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          array((lit(10) + pmod(col("vec_id") * 3 + 1, lit(7))).cast("int")).as("qtags")))

  val table: Seq[Entry] = Seq(
    // P1+J1: flagship filtered kNN (filter track, label = conjunctive tag).
    Entry("filtered_knn", (s, dir) =>
      knnResult(Knn.filteredKnn(embQueries(s, dir, 20), embBase(s, dir), 10, Metric.L2)),
      Oracle(knnOracle(20, 10, l2Sql, "ASC", filterSql = "e.label = q.qlabel"))),
    Entry("tag_postings", (s, dir) =>
      TagFilter.postings(TagFilter.withTags(Tables.embeddings(s, dir))),
      Oracle(
        """SELECT CAST(label AS INT) AS tag, vec_id AS id FROM embeddings
          |UNION ALL
          |SELECT CAST(10 + vec_id % 7 AS INT) AS tag, vec_id AS id FROM embeddings
          |""".stripMargin)),
    Entry("tag_stats", (s, dir) =>
      TagFilter.tagStats(TagFilter.withTags(Tables.embeddings(s, dir))),
      Oracle(
        """WITH p AS (SELECT CAST(label AS INT) AS tag, vec_id AS id FROM embeddings
          |           UNION ALL
          |           SELECT CAST(10 + vec_id % 7 AS INT) AS tag, vec_id AS id FROM embeddings)
          |SELECT tag, CAST(count(*) AS BIGINT) AS df,
          |       CAST((10000 * count(*)) // (SELECT count(*) FROM embeddings) AS BIGINT) AS freq_bp
          |FROM p GROUP BY tag
          |""".stripMargin)),
    Entry("filtered_knn2", (s, dir) => tagKnn(s, dir)(TagFilter.filteredKnn(_, _, k = 10)),
      Oracle(knnOracle(20, 10, l2Sql, "ASC", filterSql = conjFilter))),
    // signature prefilter and selectivity routing are lossless plan
    // rewrites: identical results to the exact conjunctive-filter kNN
    Entry("filtered_knn_sig", (s, dir) => tagKnn(s, dir)(TagFilter.filteredKnnSig(_, _, k = 10)),
      SameOracleAs("filtered_knn2")),
    // Filter-track serving form, driver-hash-gated: the resident signature
    // scan is exact (lossless bloom-skip + exact conjunctive gate + the
    // same double kernels), so it shares filtered_knn2's oracle.
    Entry("filtered_knn_served", (s, dir) => tagKnn(s, dir) { (q, b) =>
      val served = graft.index.ResidentScan.load(b, numPartitions = 4)
      try served.probeLocal(TagFilter.withSignature(q, "qtags")
        .select(col("qid"), col("qvec"), col("qtags"), col("sig").as("qsig")), 10)
      finally served.unload()
    }, SameOracleAs("filtered_knn2")),
    // 1200 bp sits between the label tags (~1000 bp) and the mod-7 tags
    // (~1428 bp): routing keys off the rarest tag, stats-driven (O(1)/query)
    Entry("filtered_knn_routed", (s, dir) => tagKnn(s, dir)(
      TagFilter.routedFilteredKnn(_, _, k = 10, thresholdBp = 1200)),
      SameOracleAs("filtered_knn2")),
    // the COMPLETE planner with the graph branch live (faiss.py:361-426)
    // on the mixed batch — recall-graded against the exact filtered scan,
    // rows-only.
    Entry("filtered_knn_planner", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = plannerQueries(emb)
      val b = TagFilter.withTags(emb)
      val got = graft.index.RoutedGraphKnn.knn(q, b, k = 10,
        thresholdBp = 1200, efSearch = 64, numPartitions = 8)
      Recall.perQuery(got, TagFilter.filteredKnn(q, b, 10), 10)
    }, GradedBy("filtered_knn_planner_exact")),
    // the SAME planner composition at its exact-degenerate point: identical
    // routing (thresholdBp = 1200 keeps BOTH branches live on the mixed
    // batch), but the graph branch runs at the exhaustive beam, where the
    // one-stage search IS the exact conjunctive scan — so the two-branch
    // union is hash-checkable end to end, the *_exact twin every other
    // approximate family carries.
    Entry("filtered_knn_planner_exact", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      knnResult(graft.index.RoutedGraphKnn.knn(plannerQueries(emb),
        TagFilter.withTags(emb), k = 10, thresholdBp = 1200,
        efSearch = 1 << 20, numPartitions = 8))
    },
      // qid < 10 are 2-tag queries (label AND mod-7), qid in [10, 20)
      // single-mod-7-tag (the graph branch) — both branches exact, one
      // mixed-filter oracle
      Oracle(knnOracle(20, 10, l2Sql, "ASC",
        filterSql = "(q.qid >= 10 OR e.label = q.qlabel) " +
          "AND e.vec_id % 7 = (q.qid * 3 + 1) % 7"))),
    // the reference's yfcc semantics end-to-end: conjunctive 2-tag filter
    // AND uint8-quantized vectors with pure-integer L2 (faiss.py:361-426 +
    // space_l2.h:376-413 in one query)
    Entry("filtered_knn_u8", (s, dir) => tagKnn(s, dir) { (q, b) =>
      val scored = b.withColumn("vec8", u8Expr("vec"))
        .crossJoin(broadcast(q.withColumn("qvec8", u8Expr("qvec"))))
        .where(forall(col("qtags"), t => array_contains(col("tags"), t)))
        .withColumn("dist", vecL2SqInt(col("qvec8"), col("vec8")).cast("double"))
      TopK.aggTopK(scored, "qid", "id", "dist", 10)
    }, Oracle(knnOracle(20, 10, u8L2Sql, "ASC", filterSql = conjFilter))),
    // bucketed layout is a physical rewrite; same logical result
    Entry("filtered_knn_bucketed", (s, dir) => tagKnn(s, dir) { (q, b) =>
      val path = tempPath("graft-buckets", "emb")
      TagBuckets.writeBucketed(b, path)
      TagBuckets.bucketedFilteredKnn(s, path, q, k = 10)
    }, SameOracleAs("filtered_knn2")),
    // P4 sorted union: disjunctive (match-ANY-tag) candidates via
    // array_union over presorted posting arrays (bow_id_selector.swig:163-192).
    Entry("tag_union", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      TagFilter.unionCandidates(
        TagFilter.tagQueries(emb, 10), TagFilter.withTags(emb))
    }, Oracle(
      """WITH p AS (SELECT CAST(label AS INT) AS tag, vec_id AS id FROM embeddings
        |           UNION ALL
        |           SELECT CAST(10 + vec_id % 7 AS INT) AS tag, vec_id AS id FROM embeddings),
        |q AS (SELECT vec_id AS qid, CAST(label AS INT) AS t1,
        |             CAST(10 + (vec_id * 3 + 1) % 7 AS INT) AS t2
        |      FROM embeddings WHERE vec_id < 10),
        |qt AS (SELECT qid, t1 AS tag FROM q UNION ALL SELECT qid, t2 AS tag FROM q)
        |SELECT DISTINCT qid, id FROM qt JOIN p USING (tag)
        |""".stripMargin)),
    // X8 per-tag subindexes at the exact-degenerate beam: every tag is hot
    // (minFreqBp below every tag's frequency), each query routes to its
    // label's dedicated graph, and ef ≥ partition size makes the probe an
    // exhaustive scan of that tag's rows — hash-checked against the
    // single-tag filtered oracle. Gates the hot-tag route end to end:
    // stats → build-per-tag → registry listing → routed probe.
    Entry("filtered_knn_subindex_exact", (s, dir) => {
      val path = tempPath("graft-subidx", "reg")
      graft.index.TagSubindexes.build(TagFilter.withTags(Tables.embeddings(s, dir)),
        path, minFreqBp = 500, numPartitions = 2)
      val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qtag"))
      knnResult(graft.index.TagSubindexes.probe(s, path, q, k = 10,
        efSearch = 1 << 20))
    },
      // hot-tag subindex probed exhaustively: exact kNN among the tag's docs
      Oracle(knnOracle(10, 10, l2Sql, "ASC", filterSql = "e.label = q.qlabel"))),
    // X8's second half — hot tag-PAIR subindexes (faiss.py:268-337 builds
    // pair indexes too): every co-occurring pair gets a graph over docs
    // holding BOTH tags; 2-tag queries route to their pair's graph and at
    // the exhaustive beam the probe is exact conjunctive kNN.
    Entry("filtered_knn_pair_subindex_exact", (s, dir) => {
      val path = tempPath("graft-pairidx", "reg")
      graft.index.TagSubindexes.buildPairs(TagFilter.withTags(Tables.embeddings(s, dir)),
        path, minPairCount = 1, numPartitions = 2)
      val q = TagFilter.tagQueries(Tables.embeddings(s, dir), 10)
        .select(col("qid"), col("qvec"),
          col("qtags").getItem(0).as("qtag1"), col("qtags").getItem(1).as("qtag2"))
      knnResult(graft.index.TagSubindexes.probePairs(s, path, q, k = 10,
        efSearch = 1 << 20))
    },
      // pair subindex probed exhaustively: exact conjunctive 2-tag kNN
      Oracle(knnOracle(10, 10, l2Sql, "ASC", filterSql = conjFilter))),
    // J3 one-stage conjunctive-tag graph search, recall-graded against the
    // exact filtered kNN (the reference's filter-track operating point:
    // 2 tags, ~1/70 selectivity — expand-until-k keeps recall high where a
    // fixed-beam post-filter would return < k).
    Entry("filtered_ann_hnsw", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = TagFilter.tagQueries(emb, 10)
      val b = TagFilter.withTags(emb)
      val got = graft.index.HnswKnn.filteredKnnTags(q, b, k = 10,
        efSearch = 64, numPartitions = 8)
      Recall.perQuery(got, TagFilter.filteredKnn(q, b, 10), 10)
    }, GradedBy("filtered_ann_hnsw_exact")),
    // one-stage filtered graph search at the exhaustive beam: the widened
    // search admits every allowed candidate (or falls back to the exact
    // partition scan when the filter starves it below k) → equals the
    // exact conjunctive kNN, hash-checked by the same oracle.
    Entry("filtered_ann_hnsw_exact", (s, dir) => tagKnn(s, dir)(graft.index.HnswKnn
      .filteredKnnTags(_, _, k = 10, efSearch = 1 << 20, numPartitions = 8)),
      SameOracleAs("filtered_knn2")),
  )
}
