package graft
package entries

import graft.Gate._
import graft.SparkEntry._
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse track: MIPS over long-form (id, dim, v), the CSR format, the
  * budgeted dataflow and its resident postings serving forms. */
object SparseTrack {

  private def sparseQueries(tf: DataFrame, nq: Int): DataFrame =
    tf.where(col("id") < nq)
      .select(col("id").as("qid"), col("dim"), col("v").as("qv"))

  /** DuckDB-side long-form sparse vectors (mirrors Sparse.fromTermFreq). */
  private val sparseTfCte =
    """tf AS (SELECT doc_id AS id, term AS dim, CAST(count(*) AS BIGINT) AS v
      |       FROM tok GROUP BY 1, 2)""".stripMargin

  /** Top-10 by (score desc, id asc) of the queries `q` over the postings
    * relation `from`: the exact and the budgeted MIPS oracles differ only
    * in which postings they score. */
  private def sparseMipsSql(from: String): String =
    s"""q AS (SELECT id AS qid, dim, v AS qv FROM tf WHERE id < 10),
       |s AS (SELECT qid, $from.id AS id, CAST(sum(qv * v) AS BIGINT) AS score
       |      FROM $from JOIN q USING (dim) GROUP BY 1, 2),
       |r AS (SELECT qid, id, score,
       |             row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |      FROM s)
       |SELECT qid, id, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
       |""".stripMargin

  /** A resident postings index over the term-frequency vectors, probed by
    * the first 10 docs and unloaded. */
  private def servedMips(docs: DataFrame, m: DataFrame => Int,
                         budget: Long = Long.MaxValue): DataFrame = {
    val tf = Sparse.fromTermFreq(docs)
    val served = graft.index.ResidentPostings.load(tf, m = m(docs), numPartitions = 4)
    try served.probeLocal(sparseQueries(tf, 10), 10, budget = budget)
    finally served.unload()
  }

  val table: Seq[Entry] = Seq(
    Entry("sparse_mips", overDocs { docs =>
      val tf = Sparse.fromTermFreq(docs)
      Sparse.mips(sparseQueries(tf, 10), tf, k = 10)
    }, Oracle(s"WITH $tokensCte, $sparseTfCte,\n" + sparseMipsSql("tf"))),
    Entry("sparse_sparsify", overDocs(d => Sparse.sparsify(Sparse.fromTermFreq(d), 8, 10)),
      Oracle(
        s"""WITH $tokensCte, $sparseTfCte,
           |w AS (SELECT id, dim, v,
           |             sum(v) OVER (PARTITION BY id ORDER BY v DESC, dim
           |                          ROWS UNBOUNDED PRECEDING) - v AS cum_before,
           |             sum(v) OVER (PARTITION BY id) AS total
           |      FROM tf)
           |SELECT id, dim, v FROM w WHERE cum_before * 10 < total * 8
           |""".stripMargin)),
    // S1/S2 end-to-end: integer-quantized embeddings written as the
    // reference's CSR .spmat layout (sparse/spmat/spmat.py), re-ingested by
    // the range-split spmat reader, then pure-integer sparse MIPS — the
    // sparse-track flagship format round-trips without conversion, gated by
    // an exact quantization-replicating oracle (same idiom as knn_l2_u8bin).
    Entry("sparse_mips_spmat", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val rows = emb.select(col("vec_id").cast("long").as("id"),
        expr("transform(embedding, (x, i) -> i)").as("indices"),
        expr("transform(embedding, x -> cast(int(floor(cast(x as double) * 10)) + 128 as float))")
          .as("values"))
      val path = tempPath("graft-spmat", "m.spmat")
      graft.sources.BinaryFormats.writeSpmat(rows, path, ncol = 64)
      val back = graft.sources.BinaryFormats.readSpmat(s, path)
      val tf = back
        .select(col("id"), explode(arrays_zip(col("indices"), col("values"))).as("z"))
        .select(col("id"), col("z.indices").as("dim"), col("z.values").cast("long").as("v"))
      Sparse.mips(sparseQueries(tf, 10), tf, k = 10)
    },
      // spmat round-trip: quantization replicated exactly, integer dot
      Oracle(
        """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
          |pairs AS (SELECT q.qid, e.vec_id AS id,
          |                 CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 10) AS BIGINT) + 128 AS x,
          |                 CAST(floor(CAST(unnest(q.qv) AS DOUBLE) * 10) AS BIGINT) + 128 AS y
          |          FROM embeddings e CROSS JOIN q),
          |scored AS (SELECT qid, id, CAST(sum(x * y) AS BIGINT) AS score
          |           FROM pairs GROUP BY qid, id),
          |ranked AS (SELECT qid, id, score,
          |                  row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
          |           FROM scored)
          |SELECT qid, id, score, rank FROM ranked WHERE rank <= 10
          |""".stripMargin)),
    Entry("sparse_budget", overDocs { docs =>
      val tf = Sparse.fromTermFreq(docs)
      Sparse.budgetedMips(sparseQueries(tf, 10), tf, k = 10, m = 16)
    },
      // budgeted sparse MIPS: every dim keeps its 16 largest postings
      Oracle(
        s"""WITH $tokensCte, $sparseTfCte,
           |p AS (SELECT id, dim, v,
           |             row_number() OVER (PARTITION BY dim ORDER BY v DESC, id) AS rn
           |      FROM tf),
           |tp AS (SELECT id, dim, v FROM p WHERE rn <= 16),
           |""".stripMargin + sparseMipsSql("tp"))),
    // J7 serving form, driver-hash-gated: the resident inverted index is
    // exact vs the budgeted dataflow, so it shares sparse_budget's oracle.
    Entry("sparse_budget_served", overDocs(servedMips(_, _ => 16)),
      SameOracleAs("sparse_budget")),
    // J7 impact-ordered query-time budget (linscan's budget semantics,
    // sparse/linscan/linscan.py:19-56): full inverted file (m = |docs|,
    // nothing truncated at build), partial scan in qv·v-descending order.
    // At budget = MaxValue the walk covers every posting, so the result
    // equals the exact MIPS join — THIS twin carries the oracle.
    Entry("sparse_impact_budget_exact", overDocs(servedMips(_, _.count().toInt)),
      SameOracleAs("sparse_mips")),
    // finite impact budget — genuinely approximate (per-shard partial
    // scan), so no SQL oracle; the driver records rows-only and the exact
    // twin above hash-gates the machinery. Budget = 64 accumulations per
    // (query, shard) against the gate corpus's ~hundreds per shard.
    Entry("sparse_impact_budget", overDocs(servedMips(_, _.count().toInt, budget = 64L)),
      GradedBy("sparse_impact_budget_exact")),
  )
}
