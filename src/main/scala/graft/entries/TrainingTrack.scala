package graft
package entries

import graft.Gate._
import graft.SparkEntry._
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data and relational track: text analysis, dedup, dataset
  * assembly, multimodal columns and the TPC-H-shaped relational queries. */
object TrainingTrack {

  /** Per-source keep rates derived from the source's numeric suffix
    * (2000 + 500·(n mod 9) bp), so the oracle can compute the identical
    * weight table in SQL. */
  private def sourceWeights(docs: DataFrame): Map[String, Long] =
    docs.select("source").distinct().collect()
      .map(_.getString(0))
      .map(src => src -> (2000L + 500L * (src.stripPrefix("src").toLong % 9)))
      .toMap

  private def nearDupPairs(docs: DataFrame): DataFrame =
    Dedup.minhashLsh(docs, n = 3, numSeeds = 16, rowsPerBand = 4, minBp = 5000)

  /** DuckDB-side distinct word-3-gram shingles (mirrors Dedup.shingles n=3). */
  private val shinglesCte =
    """sh AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(l) - 1),
      |                     i -> array_to_string(l[i:i+2], ' '))) AS shingle
      |       FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))""".stripMargin

  /** MinHash-LSH candidate pairs over `sh` (16 seeds, 4 rows per band)
    * with their shingle counts `sz(doc_id, nsh)` and verified
    * intersections `inter(a_id, b_id, i)` (mirrors Dedup.minhashLsh). */
  private val minhashCtes =
    """mh AS (SELECT doc_id, g.seed AS seed,
      |              min(xor(('0x' || substr(md5(shingle), 1, 15))::BIGINT,
      |                      ('0x' || substr(md5('seed:' || CAST(g.seed AS VARCHAR)), 1, 15))::BIGINT)) AS mh
      |       FROM sh CROSS JOIN generate_series(0, 15) g(seed) GROUP BY 1, 2),
      |bands AS (SELECT doc_id, seed // 4 AS band,
      |                 string_agg(mh::VARCHAR, '-' ORDER BY seed) AS bkey
      |          FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS i
      |          FROM cand c
      |          JOIN sh a ON a.doc_id = c.a_id
      |          JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      |          GROUP BY 1, 2)""".stripMargin

  /** The pairs of `inter` at Jaccard ≥ 0.5, in basis points. */
  private val jaccardPairsSql =
    """SELECT a_id, b_id, CAST((10000 * i) // (sa.nsh + sb.nsh - i) AS BIGINT) AS jaccard_bp
      |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |WHERE (10000 * i) // (sa.nsh + sb.nsh - i) >= 5000
      |""".stripMargin

  /** Full MinHash-LSH → Jaccard-verified edges → min-label connected
    * components, ending in `cl(doc_id, cluster_id)` — the shared prefix of
    * the cluster and canonical-selection oracles. */
  private val dupClustersCtes: String =
    s"""WITH RECURSIVE $shinglesCte,
       |$minhashCtes,
       |pairs AS (SELECT a_id, b_id
       |          FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
       |          WHERE (10000 * i) // (sa.nsh + sb.nsh - i) >= 5000),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
       |""".stripMargin

  /** DuckDB-side 32-bit SimHash signature CTE (mirrors Dedup.simhash). */
  private val simhashSql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |b AS (SELECT doc_id, g.i AS i,
      |             sum(CASE WHEN (('0x' || substr(md5(term), 1, 8))::BIGINT >> g.i) & 1 = 1
      |                 THEN tf ELSE -tf END) AS s
      |      FROM tf CROSS JOIN generate_series(0, 31) g(i) GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |               CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2.0, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |        FROM b GROUP BY 1)
      |""".stripMargin

  /** DuckDB-side word bigrams `g(doc_id, gram)` (mirrors Text's n = 2). */
  private val bigramsCte =
    """g AS (SELECT doc_id,
      |           unnest(list_transform(range(1, len(l)),
      |                  i -> array_to_string(l[i:i+1], ' '))) AS gram
      |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))""".stripMargin

  /** The corpus bigram model `model(gram, c)` and per-doc bigram counts
    * `dg(doc_id, gram, tf)` of the LM-familiarity signal. */
  private val bigramModelCtes =
    s"""$bigramsCte,
       |model AS (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
       |dg AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
       |       FROM g GROUP BY 1, 2)""".stripMargin

  /** Per-source sqrt-smoothed weights `w(source, tot, weight)` and their
    * sum `s(wsum)` (mirrors Pipeline.temperatureAllocate, α = 0.5). */
  private val mixtureWeightsCtes =
    """t AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tot
      |           FROM documents GROUP BY 1),
      |w AS (SELECT source, tot,
      |             CAST(floor(sqrt(CAST(tot AS DOUBLE)) * 1000.0) AS BIGINT) AS weight
      |      FROM t),
      |s AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w)""".stripMargin

  /** DuckDB-side per-doc token counts `n(doc_id, n_tokens)`, the input of
    * the shard-packing oracles' doc_id-order prefix sums. */
  private val tokenCountsCtes =
    s"""$tokensCte,
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id),""".stripMargin

  /** DuckDB-side derived asset table (mirrors Multimodal.assets). */
  private val mmAssetsCte =
    """assets AS (SELECT doc_id AS asset_id,
      |       (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       CAST(32 + (doc_id % 4) * 16 AS INT) AS width,
      |       CAST(32 + ((doc_id * 7) % 4) * 16 AS INT) AS height,
      |       CAST(1 + (doc_id % 8) AS INT) AS n_frames
      |FROM documents)""".stripMargin

  val table: Seq[Entry] = Seq(
    // A1-style relational aggregation smoke (TPC-H Q1 shape).
    Entry("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |""".stripMargin)),

    // -- text-analysis pipeline (training-data ops) --------------------------
    Entry("text_termfreq", overDocs(Text.termFreq), Oracle(
      s"""WITH $tokensCte
         |SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |FROM tok GROUP BY doc_id, term
         |""".stripMargin)),
    Entry("text_stats", overDocs(Text.tokenStats), Oracle(
      s"""WITH $tokensCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |               CAST(count(DISTINCT term) AS BIGINT) AS n_unique,
         |               CAST(sum(length(term)) AS BIGINT) AS char_sum
         |        FROM tok GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_unique, char_sum,
         |       CAST((100 * char_sum) // n_tokens AS BIGINT) AS centi_avg_len
         |FROM agg
         |""".stripMargin)),
    Entry("text_quality", overDocs(Text.qualityScore(_)
      .select("doc_id", "n_tokens", "stop_bp", "uniq_bp", "quality_flag")), Oracle(
      s"""WITH $tokensCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |               CAST(count(DISTINCT term) AS BIGINT) AS n_unique,
         |               CAST(sum(CASE WHEN term IN ('the', 'a') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |        FROM tok GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |       CAST((10000 * stop_hits) // n_tokens AS BIGINT) AS stop_bp,
         |       CAST((10000 * n_unique) // n_tokens AS BIGINT) AS uniq_bp,
         |       CAST(CASE WHEN n_tokens BETWEEN 20 AND 90
         |                  AND (10000 * stop_hits) // n_tokens < 2500
         |            THEN 1 ELSE 0 END AS INT) AS quality_flag
         |FROM agg
         |""".stripMargin)),
    Entry("text_langid", overDocs(Text.langId), Oracle(
      s"""WITH $tokensCte,
         |hits AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN term IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS hits_en,
         |  CAST(sum(CASE WHEN term IN ('el','la','de','los','que') THEN 1 ELSE 0 END) AS BIGINT) AS hits_es,
         |  CAST(sum(CASE WHEN term IN ('der','die','das','und') THEN 1 ELSE 0 END) AS BIGINT) AS hits_de,
         |  CAST(sum(CASE WHEN term IN ('le','la','les','et') THEN 1 ELSE 0 END) AS BIGINT) AS hits_fr
         |  FROM tok GROUP BY doc_id),
         |mx AS (SELECT *, greatest(hits_en, hits_es, hits_de, hits_fr) AS max_hits FROM hits)
         |SELECT doc_id,
         |       CASE WHEN hits_en = max_hits AND max_hits > 0 THEN 'en'
         |            WHEN hits_es = max_hits AND max_hits > 0 THEN 'es'
         |            WHEN hits_de = max_hits AND max_hits > 0 THEN 'de'
         |            WHEN hits_fr = max_hits AND max_hits > 0 THEN 'fr'
         |            ELSE 'und' END AS pred_lang,
         |       max_hits
         |FROM mx
         |""".stripMargin)),
    // repetitiousness filter: share of a doc's bigram occurrences taken by
    // its single most repeated bigram, in basis points.
    Entry("text_repetition", overDocs(Text.repetition(_, n = 2)), Oracle(
        s"""WITH $bigramsCte,
           |c AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
           |      FROM g GROUP BY 1, 2)
           |SELECT doc_id,
           |       CAST(sum(tf) AS BIGINT) AS n_grams,
           |       CAST(max(tf) AS BIGINT) AS top_tf,
           |       CAST((10000 * max(tf)) // sum(tf) AS BIGINT) AS rep_bp
           |FROM c GROUP BY doc_id
           |""".stripMargin)),
    Entry("text_fingerprint", overDocs(Text.fingerprint), Oracle(
      """SELECT doc_id, md5(text) AS fp, CAST(length(text) AS BIGINT) AS text_len
        |FROM documents
        |""".stripMargin)),
    // corpus-trained bigram-LM familiarity (the CCNet-style quality signal,
    // count-mean surrogate → ratio-of-integers, oracle-exact)
    Entry("text_lm_familiarity", overDocs(Text.lmFamiliarity), Oracle(
        s"""WITH $bigramModelCtes
           |SELECT dg.doc_id,
           |       CAST(sum(dg.tf) AS BIGINT) AS n_bigrams,
           |       CAST(sum(dg.tf * model.c) AS BIGINT) AS fam_sum,
           |       CAST((100 * sum(dg.tf * model.c)) // sum(dg.tf) AS BIGINT) AS centi_fam
           |FROM dg JOIN model USING (gram) GROUP BY dg.doc_id
           |""".stripMargin)),
    // whole-corpus budgeting stats (exact; the HLL scale path is
    // spec-bounded against this answer)
    Entry("text_corpus_stats", overDocs(Text.corpusStats), Oracle(
        s"""WITH $tokensCte
           |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |       CAST(count(*) AS BIGINT) AS n_tokens,
           |       CAST(count(DISTINCT term) AS BIGINT) AS n_vocab
           |FROM tok
           |""".stripMargin)),
    // PII scrub pass over the corpus with deterministic PII injected from
    // each row's own doc_id (the synthetic text carries none, so the gate
    // would otherwise only cover the no-op path): one email, one IPv4, one
    // phone per doc, then the redaction kernels + audit counts — hash gate
    // covers the cleaned bytes AND the counts, cross-engine.
    Entry("text_redact_pii", overDocs(docs => Text.redactPii(docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0.1 call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")))),
      // identical injection expression, identical portable patterns (see
      // Text.EmailPattern — no backslash constructs, so RE2 and Java regex
      // agree byte-for-byte); DuckDB regexp_replace needs the explicit 'g'
      // flag to match Spark's replace-all semantics
      Oracle(
        s"""WITH injected AS (
           |  SELECT doc_id,
           |         text || ' contact user' || CAST(doc_id AS VARCHAR)
           |              || '@example.com from 10.'
           |              || CAST(doc_id % 256 AS VARCHAR) || '.0.1 call 555-'
           |              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
           |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
           |  FROM documents)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(t, '${Text.EmailPattern}')) AS BIGINT) AS n_emails,
           |       CAST(len(regexp_extract_all(t, '${Text.Ipv4Pattern}')) AS BIGINT) AS n_ips,
           |       CAST(len(regexp_extract_all(t, '${Text.PhonePattern}')) AS BIGINT) AS n_phones,
           |       regexp_replace(regexp_replace(regexp_replace(t,
           |         '${Text.EmailPattern}', '<EMAIL>', 'g'),
           |         '${Text.Ipv4Pattern}', '<IP>', 'g'),
           |         '${Text.PhonePattern}', '<PHONE>', 'g') AS text_clean
           |FROM injected
           |""".stripMargin)),
    // quality deciles over the LM-familiarity order: exact global ranking
    // via the distributed two-pass prefix sum (NO single-task window), then
    // engine-portable integer N-tile — the curriculum/mixture selection
    // pass ("train on the top deciles first").
    Entry("pipeline_quality_deciles", overDocs { docs =>
      val fam = Text.lmFamiliarity(docs).select(col("doc_id"), col("centi_fam"))
      Pipeline.ntileExact(fam, Seq(col("centi_fam").desc, col("doc_id")), 10)
        .select(col("doc_id"), col("centi_fam"), col("grank"), col("bucket").as("decile"))
    }, Oracle(
      s"""WITH $bigramModelCtes,
         |f AS (SELECT dg.doc_id,
         |             CAST((100 * sum(dg.tf * model.c)) // sum(dg.tf) AS BIGINT) AS centi_fam
         |      FROM dg JOIN model USING (gram) GROUP BY dg.doc_id),
         |r AS (SELECT doc_id, centi_fam,
         |             row_number() OVER (ORDER BY centi_fam DESC, doc_id) AS grank,
         |             count(*) OVER () AS total
         |      FROM f)
         |SELECT doc_id, centi_fam, CAST(grank AS BIGINT) AS grank,
         |       CAST(((grank - 1) * 10) // total AS BIGINT) AS decile
         |FROM r
         |""".stripMargin)),
    // exact per-stratum sampling: the 30 docs of every language with the
    // smallest salted-md5 keys, via the bounded-heap top-k aggregator —
    // deterministic eval-set construction with no per-stratum sort.
    Entry("pipeline_stratified", overDocs(Pipeline.stratifiedTake(_, "lang", "doc_id", 30)
      .select(col("doc_id").cast("long"), col("lang"), col("samp_rank").cast("long"))),
      // the sort key mirrors Spark's: first 60 md5 bits as an integer, and
      // the compare happens in DOUBLE on both sides (the heap aggregator
      // compares doubles) so rounding ties break identically
      Oracle(
        """SELECT doc_id, lang, samp_rank FROM (
          |  SELECT doc_id, lang,
          |         row_number() OVER (PARTITION BY lang
          |           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strata'), 1, 15))::BIGINT AS DOUBLE),
          |                    doc_id)
          |           AS samp_rank
          |  FROM documents) WHERE samp_rank <= 30
          |""".stripMargin)),
    // materialized packed sequences: per shard, texts concatenated in
    // doc_id order (hash gate covers the sequence bytes via md5)
    Entry("pipeline_sequences", overDocs(Pipeline.buildSequences(_, budget = 2000L)), Oracle(
      s"""WITH $tokenCountsCtes
         |w AS (SELECT doc_id,
         |             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
         |      FROM n),
         |sh AS (SELECT doc_id, CAST(cum_before // 2000 AS BIGINT) AS shard FROM w)
         |SELECT sh.shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       md5(string_agg(d.text, chr(30) ORDER BY d.doc_id)) AS seq_md5
         |FROM sh JOIN documents d ON d.doc_id = sh.doc_id
         |GROUP BY sh.shard
         |""".stripMargin)),
    // temperature-balanced (α=0.5) mixture allocation over sources:
    // sqrt-smoothed weights + integer largest-remainder apportionment of a
    // 100k-doc budget — Σ alloc = budget exactly
    Entry("pipeline_mixture_alloc", overDocs(Pipeline.temperatureAllocate(_, "source",
      col("n_chars"), budget = 100000L)), Oracle(
      s"""WITH $mixtureWeightsCtes,
         |b AS (SELECT source, tot, weight,
         |             CAST((100000 * weight) // wsum AS BIGINT) AS base,
         |             CAST((100000 * weight) % wsum AS BIGINT) AS rem
         |      FROM w, s),
         |k AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS extra FROM b),
         |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr
         |      FROM b)
         |SELECT source, tot, weight,
         |       CAST(base + CASE WHEN rr <= (SELECT extra FROM k)
         |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM r
         |""".stripMargin)),
    // the materialized mixture: α-smoothed per-source budgets (200 docs
    // total here, so allocations are non-trivial at this SF) + exact
    // deterministic per-source selection
    Entry("pipeline_mixture_take", overDocs(Pipeline.materializeMixture(_, "source",
      "doc_id", col("n_chars"), budget = 200L)
      .select(col("source"), col("doc_id").cast("long"), col("samp_rank").cast("long"))), Oracle(
      s"""WITH $mixtureWeightsCtes,
         |b AS (SELECT source, weight,
         |             CAST((200 * weight) // wsum AS BIGINT) AS base,
         |             CAST((200 * weight) % wsum AS BIGINT) AS rem
         |      FROM w, s),
         |k AS (SELECT CAST(200 - sum(base) AS BIGINT) AS extra FROM b),
         |a AS (SELECT source,
         |             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
         |                         <= (SELECT extra FROM k) THEN 1 ELSE 0 END AS alloc
         |      FROM b),
         |ranked AS (SELECT source, doc_id,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))::BIGINT AS DOUBLE),
         |                        doc_id) AS samp_rank
         |           FROM documents)
         |SELECT r.source, r.doc_id, r.samp_rank
         |FROM ranked r JOIN a ON r.source = a.source
         |WHERE r.samp_rank <= a.alloc
         |""".stripMargin)),
    Entry("text_tokens_bpe", overDocs(Text.bpeishCounts), Oracle(
        """WITH p AS (SELECT doc_id,
          |                  unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS piece
          |           FROM documents)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
          |       CAST(count(DISTINCT piece) AS BIGINT) AS n_unique_pieces
          |FROM p GROUP BY doc_id
          |""".stripMargin)),

    // -- dedup family (training-data pipeline ops) ---------------------------
    Entry("dedup_exact", overDocs(Dedup.exactDedup), Oracle(
      """WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
        |c AS (SELECT f, min(doc_id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, c.canonical_id,
        |       CAST(fp.doc_id != c.canonical_id AS INT) AS is_dup
        |FROM fp JOIN c USING (f)
        |""".stripMargin)),
    Entry("dedup_jaccard", overDocs(Dedup.jaccardPairs(_, n = 3, minBp = 5000)), Oracle(
      s"""WITH $shinglesCte,
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
         |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |""".stripMargin + jaccardPairsSql)),
    // the 100 TB form of the all-pairs join: shingles in more than maxDf
    // docs are dropped BEFORE the self-join (a d-doc shingle contributes d²
    // join rows; stopword-frequency n-grams carry no dedup signal). The
    // oracle replicates the df cap exactly, so this stays hash-checked.
    Entry("dedup_jaccard_capped",
      overDocs(Dedup.jaccardPairs(_, n = 3, minBp = 5000, maxDf = 20)), Oracle(
      s"""WITH $shinglesCte,
         |capped AS (SELECT doc_id, shingle FROM sh
         |           WHERE shingle NOT IN (SELECT shingle FROM sh
         |                                 GROUP BY shingle HAVING count(*) > 20)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM capped GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
         |          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |""".stripMargin + jaccardPairsSql)),
    Entry("dedup_minhash_lsh", overDocs(nearDupPairs),
      Oracle(s"WITH $shinglesCte,\n$minhashCtes\n" + jaccardPairsSql)),
    // benchmark decontamination: every 20th doc plays the eval set, the
    // rest are the training corpus; flag corpus docs sharing any 3-gram
    // with the eval side (broadcast probe — the corpus never self-joins).
    Entry("dedup_decontam", overDocs(docs => Dedup.decontaminate(
      docs.where(col("doc_id") % 20 =!= 0), docs.where(col("doc_id") % 20 === 0), n = 3)), Oracle(
      s"""WITH $shinglesCte,
         |bg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         |hits AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM sh JOIN bg USING (shingle)
         |         WHERE sh.doc_id % 20 <> 0
         |         GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE d.doc_id % 20 <> 0
         |""".stripMargin)),
    // ExactSubstr-style repeated-span signal: per-doc budget of length-5
    // token windows whose text recurs in another document (position
    // semantics, min≠max per-gram cross-doc flag — no self-join)
    Entry("dedup_spans", overDocs(Dedup.repeatedSpans(_, n = 5)),
      // repeated spans: positional length-5 windows; a gram is shared iff
      // its min and max doc differ (≥ 2 distinct docs). Window positions come
      // from unnest(generate_series(1, len(t) - 4)) — bounded by each doc's
      // OWN token count, not a literal that would silently truncate long docs
      // (generate_series's endpoint must be constant in DuckDB, so the
      // per-row list+unnest form is the portable way to a derived bound).
      Oracle(
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |wins AS (SELECT doc_id, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)),
          |gdf AS (SELECT gram, (min(doc_id) <> max(doc_id)) AS shared
          |        FROM wins GROUP BY gram)
          |SELECT w.doc_id,
          |       CAST(count(*) AS BIGINT) AS n_windows,
          |       CAST(sum(CASE WHEN g.shared THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |       CAST((10000 * sum(CASE WHEN g.shared THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS shared_bp
          |FROM wins w JOIN gdf g USING (gram) GROUP BY 1
          |""".stripMargin)),
    // the trimming ACTION on those spans: drop covered tokens, re-join
    // survivors in order — cleaned text + kept-token accounting per doc
    Entry("dedup_spans_trim", overDocs(Dedup.trimSharedSpans(_, n = 5)),
      // trim: anti-join tokens against the expanded coverage of shared
      // windows, string_agg the survivors in position order
      Oracle(
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |tok AS (SELECT doc_id, i - 1 AS ti, t[i] AS tok
          |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)),
          |wins AS (SELECT doc_id, i - 1 AS wi, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          |         FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)),
          |gdf AS (SELECT gram FROM wins GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
          |cov AS (SELECT DISTINCT w.doc_id, w.wi + o.o AS ti
          |        FROM wins w JOIN gdf USING (gram), generate_series(0, 4) o(o)),
          |kept AS (SELECT t.doc_id, t.ti, t.tok FROM tok t
          |         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti),
          |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          |               string_agg(tok, ' ' ORDER BY ti) AS txt
          |        FROM kept GROUP BY doc_id)
          |SELECT d.doc_id,
          |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
          |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
          |       coalesce(a.txt, '') AS text_clean
          |FROM documents d LEFT JOIN agg a USING (doc_id)
          |""".stripMargin)),
    Entry("dedup_simhash", overDocs(Dedup.simhash),
      Oracle(simhashSql + "SELECT doc_id, simhash FROM sig\n")),
    Entry("dedup_simhash_pairs", overDocs(Dedup.simhashPairs(_, maxHamming = 2)), Oracle(simhashSql +
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |""".stripMargin)),
    // connected components over the MinHash-LSH near-dup pairs → canonical
    // cluster per doc (the dedup pipeline's final step); oracle = the same
    // pair construction + a recursive reachability CTE (min reachable
    // doc_id).
    Entry("dedup_clusters", overDocs(docs => Dedup.dupClusters(docs, nearDupPairs(docs))),
      Oracle(dupClustersCtes + "SELECT doc_id, cluster_id FROM cl\n")),
    // dedup resolution: keep the longest member of each near-dup cluster —
    // (n_chars desc, doc_id asc), the keep-the-longest rule
    Entry("dedup_canonical", overDocs(docs =>
      Dedup.canonical(docs, Dedup.dupClusters(docs, nearDupPairs(docs)))), Oracle(dupClustersCtes +
      """SELECT cluster_id, doc_id AS keep_id FROM (
        |  SELECT cl.cluster_id, cl.doc_id,
        |         row_number() OVER (PARTITION BY cl.cluster_id
        |           ORDER BY d.n_chars DESC, cl.doc_id) AS rn
        |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
        |WHERE rn = 1
        |""".stripMargin)),
    // LSH-bucketed (the 100 TB path): integer hyperplane signatures →
    // 4×8-bit band candidates → exact cosine re-rank. The oracle replicates
    // the identical banding in SQL (integer signs are engine-exact), so this
    // stays hash-checked despite being an approximate-NN construction.
    Entry("dedup_embed_nn", (s, dir) =>
      knnResult(Dedup.embeddingLshNearestNeighbor(Tables.embeddings(s, dir),
        dim = 64, k = 1)),
      // replicates embedLshSig exactly: integer-quantized vector ×
      // md5-derived integer hyperplanes → 32 sign bits → 4×8-bit bands →
      // candidate pairs → exact cosine top-1 among candidates
      Oracle(
        s"""WITH dims AS (SELECT vec_id, g.i AS i,
           |                     CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 100) AS BIGINT) AS qx
           |              FROM embeddings CROSS JOIN generate_series(0, 63) g(i)),
           |hp AS (SELECT gj.j AS j, gi.i AS i,
           |              (('0x' || substr(md5('hp:' || gj.j || ':' || gi.i), 1, 8))::BIGINT % 2001) - 1000 AS h
           |       FROM generate_series(0, 31) gj(j) CROSS JOIN generate_series(0, 63) gi(i)),
           |s AS (SELECT vec_id, j, sum(qx * h) AS s FROM dims JOIN hp USING (i) GROUP BY 1, 2),
           |sig AS (SELECT vec_id,
           |               CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
           |        FROM s GROUP BY 1),
           |bands AS (SELECT vec_id, gb.b AS band, (sig >> (8 * gb.b)) & 255 AS bval
           |          FROM sig CROSS JOIN generate_series(0, 3) gb(b)),
           |cand AS (SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
           |         FROM bands a JOIN bands c
           |           ON a.band = c.band AND a.bval = c.bval AND a.vec_id != c.vec_id),
           |pairs AS (SELECT cand.qid, cand.nid,
           |                 unnest(e.embedding) AS x, unnest(q.embedding) AS y
           |          FROM cand JOIN embeddings e ON e.vec_id = cand.nid
           |                    JOIN embeddings q ON q.vec_id = cand.qid),
           |scored AS (SELECT qid, nid,
           |                  sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
           |                  / sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
           |                       * sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS c
           |           FROM pairs GROUP BY qid, nid),
           |ranked AS (SELECT qid, nid AS neighbor_id,
           |                  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank
           |           FROM scored)
           |SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= 1
           |""".stripMargin)),

    // -- dataset assembly (training-data pipeline tail) ----------------------
    Entry("pipeline_split", overDocs(Pipeline.deterministicSplit(_, "doc_id",
      trainPct = 80, valPct = 10).select("doc_id", "bucket", "split")), Oracle(
      """WITH b AS (SELECT doc_id,
        |                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |           FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b
        |""".stripMargin)),
    Entry("pipeline_shards", overDocs(Pipeline.packShards(_, budget = 2000)), Oracle(
      s"""WITH $tokenCountsCtes
         |w AS (SELECT doc_id, n_tokens,
         |             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
         |      FROM n)
         |SELECT doc_id, n_tokens, CAST(cum_before // 2000 AS BIGINT) AS shard FROM w
         |""".stripMargin)),
    // mixture sampling: per-source keep rates from sourceWeights; keep is a
    // pure function of (doc_id, source) — deterministic across engines and
    // reruns.
    Entry("pipeline_sample", overDocs(docs =>
      Pipeline.sampleBySource(docs, "doc_id", "source", sourceWeights(docs))
        .select("doc_id", "source", "sample_bucket", "weight_bp", "keep")), Oracle(
      """WITH w AS (SELECT doc_id, source,
        |           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 15))::BIGINT % 10000 AS sample_bucket,
        |           CAST(2000 + 500 * (CAST(substr(source, 4) AS BIGINT) % 9) AS BIGINT) AS weight_bp
        |    FROM documents)
        |SELECT doc_id, source, sample_bucket, weight_bp,
        |       CAST(CASE WHEN sample_bucket < weight_bp THEN 1 ELSE 0 END AS INT) AS keep
        |FROM w
        |""".stripMargin)),
    // the full cleaning funnel as one plan: quality × exact-dedup ×
    // decontamination × mixture sampling, per-doc stage flags + final kept.
    Entry("pipeline_funnel", overDocs(docs => Pipeline.cleanFunnel(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0), sourceWeights(docs), n = 3)), Oracle(
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
         |ctok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus),
         |q AS (SELECT doc_id,
         |      CAST(CASE WHEN count(*) BETWEEN 20 AND 90
         |            AND (10000 * sum(CASE WHEN term IN ('the', 'a') THEN 1 ELSE 0 END)) // count(*) < 2500
         |           THEN 1 ELSE 0 END AS INT) AS quality_flag
         |      FROM ctok GROUP BY doc_id),
         |fp AS (SELECT doc_id, md5(text) AS fp FROM corpus),
         |dd AS (SELECT f.doc_id, CAST(f.doc_id != m.min_id AS INT) AS is_dup
         |       FROM fp f JOIN (SELECT fp, min(doc_id) AS min_id FROM fp GROUP BY fp) m
         |         ON f.fp = m.fp),
         |$shinglesCte,
         |bg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         |hits AS (SELECT sh.doc_id, count(*) AS n_hits
         |         FROM sh JOIN bg USING (shingle)
         |         WHERE sh.doc_id % 20 <> 0 GROUP BY sh.doc_id),
         |smp AS (SELECT doc_id,
         |        CAST(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 15))::BIGINT % 10000
         |              < 2000 + 500 * (CAST(substr(source, 4) AS BIGINT) % 9)
         |             THEN 1 ELSE 0 END AS INT) AS sample_keep
         |        FROM corpus)
         |SELECT c.doc_id, q.quality_flag, dd.is_dup,
         |       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated,
         |       smp.sample_keep,
         |       CAST(CASE WHEN q.quality_flag = 1 AND dd.is_dup = 0
         |                  AND coalesce(h.n_hits, 0) = 0 AND smp.sample_keep = 1
         |            THEN 1 ELSE 0 END AS INT) AS kept
         |FROM corpus c
         |JOIN q USING (doc_id) JOIN dd USING (doc_id)
         |LEFT JOIN hits h ON h.doc_id = c.doc_id
         |JOIN smp USING (doc_id)
         |""".stripMargin)),

    // -- multimodal binary columns (stubbed decode, real plumbing) -----------
    Entry("mm_assets", overDocs(Multimodal.assets(_).select(col("asset_id"), col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      col("width"), col("height"), col("n_frames"))), Oracle(
      s"""WITH $mmAssetsCte
         |SELECT asset_id, kind, n_bytes, width, height, n_frames FROM assets
         |""".stripMargin)),
    Entry("mm_resize", overDocs(d => Multimodal.resize(Multimodal.assets(d), maxSide = 48)
      .select("asset_id", "width", "height", "out_width", "out_height")), Oracle(
      s"""WITH $mmAssetsCte
         |SELECT asset_id, width, height,
         |       CAST(floor(width * least(1.0, 48.0 / greatest(width, height))) AS INT) AS out_width,
         |       CAST(floor(height * least(1.0, 48.0 / greatest(width, height))) AS INT) AS out_height
         |FROM assets
         |""".stripMargin)),
    Entry("mm_frames", overDocs(d => Multimodal.frameSample(Multimodal.assets(d), stride = 2)),
      Oracle(
        s"""WITH $mmAssetsCte
           |SELECT asset_id, n_frames, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx
           |FROM assets WHERE kind = 'video'
           |""".stripMargin)),
    Entry("mm_features", overDocs(d => Multimodal.decodeFeatures(Multimodal.assets(d), dim = 32)
      .toDF().select(col("asset_id"), col("kind"), col("n_bytes"),
        size(col("features")).cast("long").as("feat_dim"))), Oracle(
      s"""WITH $mmAssetsCte
         |SELECT asset_id, kind, n_bytes, CAST(32 AS INT) AS feat_dim FROM assets
         |""".stripMargin)),
    // REAL codec path: genuine PNG payloads (JDK encoder) decoded back by
    // ImageIO inside mapPartitions; dimensions and exact channel sums come
    // from the DECODED pixels, and the oracle recomputes them from the
    // closed-form pattern without any codec — the gate can only pass if
    // the container bytes truly decode (PNG is lossless).
    Entry("mm_decode", overDocs(d => Multimodal.imageStats(Multimodal.syntheticImages(d)).toDF()),
      // the synthetic-PNG pattern recomputed in SQL (no codec): sizes are
      // bounded by 12 so a fixed series + filter replaces the lateral
      // generate_series DuckDB doesn't support
      Oracle(
        """WITH ids AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id*3) % 5 AS h
          |             FROM documents),
          |px AS (SELECT i.doc_id, i.w, i.h, xs.x, ys.y
          |       FROM ids i, generate_series(0, 11) xs(x), generate_series(0, 11) ys(y)
          |       WHERE xs.x < i.w AND ys.y < i.h)
          |SELECT doc_id AS asset_id,
          |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          |       CAST(sum((doc_id*7 + x*3 + y*11) % 256) AS BIGINT) AS sum_r,
          |       CAST(sum((doc_id*13 + x*5 + y*2) % 256) AS BIGINT) AS sum_g,
          |       CAST(sum((doc_id*3 + x + y*7) % 256) AS BIGINT) AS sum_b
          |FROM px GROUP BY 1, 2, 3
          |""".stripMargin)),
    // real pixel RESIZE: decode → nearest-neighbor downscale → re-encode →
    // re-decode; output dims and channel sums oracle-checked against the
    // closed-form source pattern mapped through the integer scaler
    // (sx = x*w/ow, sy = y*h/oh, floor division) — no codec needed
    Entry("mm_resize_px", overDocs(d =>
      Multimodal.resizeImages(Multimodal.syntheticImages(d), maxSide = 6).toDF()),
      Oracle(
        """WITH ids AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id*3) % 5 AS h
          |             FROM documents),
          |dims AS (SELECT doc_id, w, h, GREATEST(w, h) AS den,
          |                LEAST(6, GREATEST(w, h)) AS num FROM ids),
          |od AS (SELECT doc_id, w, h,
          |              GREATEST(1, w * num // den) AS ow,
          |              GREATEST(1, h * num // den) AS oh FROM dims),
          |px AS (SELECT o.doc_id, o.w, o.h, o.ow, o.oh, xs.x, ys.y
          |       FROM od o, generate_series(0, 11) xs(x), generate_series(0, 11) ys(y)
          |       WHERE xs.x < o.ow AND ys.y < o.oh),
          |src AS (SELECT doc_id, ow, oh,
          |               (x * w // ow) AS sx, (y * h // oh) AS sy FROM px)
          |SELECT doc_id AS asset_id,
          |       CAST(ow AS INTEGER) AS width, CAST(oh AS INTEGER) AS height,
          |       CAST(sum((doc_id*7 + sx*3 + sy*11) % 256) AS BIGINT) AS sum_r,
          |       CAST(sum((doc_id*13 + sx*5 + sy*2) % 256) AS BIGINT) AS sum_g,
          |       CAST(sum((doc_id*3 + sx + sy*7) % 256) AS BIGINT) AS sum_b
          |FROM src GROUP BY 1, 2, 3
          |""".stripMargin)),

    // -- relational analytics (joins, windows, JSON) -------------------------
    Entry("q3_revenue", (s, dir) =>
      Relational.q3Revenue(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "BUILDING", "1998-01-01"), Oracle(
      """SELECT l_orderkey, o_orderdate,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2
        |""".stripMargin)),
    Entry("q5_region", (s, dir) =>
      Relational.q5RegionRevenue(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        "ASIA"), Oracle(
      """SELECT n_name,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1
        |""".stripMargin)),
    Entry("events_first_per_user", (s, dir) =>
      Relational.firstEventsPerUser(Tables.events(s, dir), 3), Oracle(
      """SELECT user_id, event_id, event_type,
        |       CAST(rn AS BIGINT) AS rn
        |FROM (SELECT user_id, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3
        |""".stripMargin)),
    Entry("part_top_brand", (s, dir) =>
      Relational.topPartsPerBrand(Tables.part(s, dir), 3), Oracle(
      """SELECT p_brand, p_partkey, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT p_brand, p_partkey,
        |             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |      FROM part)
        |WHERE rn <= 3
        |""".stripMargin)),
    Entry("events_json", (s, dir) => Relational.eventJsonStats(Tables.events(s, dir)),
      Oracle(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          |       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
          |FROM events GROUP BY 1
          |""".stripMargin)),
  )
}
