package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** How the driver checks one [[Entry]]'s rows. */
sealed trait Gate
object Gate {
  /** DuckDB SQL whose rows the entry's rows must hash-match. */
  final case class Oracle(sql: String) extends Gate
  /** An exact path hash-checked with another entry's oracle SQL. */
  final case class SameOracleAs(entry: String) extends Gate
  /** An approximate path: the driver records its rows only, and the named
    * exact twin runs the same operator at its exact-degenerate point under
    * an oracle. */
  final case class GradedBy(exactTwin: String) extends Gate
}

/** One driver-contract query: its name, its plan over a data dir, and the
  * gate its rows answer to. */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame,
                       gate: Gate)

/** Driver contract — see SURVEY.md §7.
  *
  * [[table]] holds every entry; [[queries]] and [[oracleSql]] are its
  * projections. Every query must return columns whose NAMES match its
  * oracle's aliases exactly (the driver sorts columns by name before
  * hashing). kNN-style queries return integer ids/ranks only — float
  * distances never leave the plan, so float rounding can't break the hash
  * compare. The entries live in per-track files under `entries/`; the
  * helpers they share live here.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Label-filtered top-10 L2 kNN — the reference's filter-track semantics
    * (/root/reference/filter/faiss/faiss.py:361-426). */
  def entry(spark: SparkSession): DataFrame =
    queries("filtered_knn")(spark, "/root/testdata/sf0.001")

  /** Every entry, one per name (EntryTableSpec checks the names are
    * unique: a Seq keeps a duplicate, where a Map literal drops it). */
  lazy val table: Seq[Entry] =
    entries.TrainingTrack.table ++ entries.OodTrack.table ++
      entries.FilterTrack.table ++ entries.SparseTrack.table ++
      entries.StreamingTrack.table

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(e => e.name -> e.run).toMap

  lazy val oracleSql: Map[String, String] =
    table.flatMap(e => oracleOf(e.gate).map(e.name -> _)).toMap

  private lazy val byName: Map[String, Entry] = table.map(e => e.name -> e).toMap

  /** The SQL a gate hashes against: its own, or the one it shares. */
  private def oracleOf(g: Gate, seen: Set[String] = Set.empty): Option[String] = g match {
    case Gate.Oracle(sql) => Some(sql)
    case Gate.SameOracleAs(other) =>
      require(!seen(other), s"SameOracleAs cycle through $other")
      oracleOf(byName(other).gate, seen + other)
    case Gate.GradedBy(_) => None
  }

  // -- query-side helpers ---------------------------------------------------

  private[graft] def embQueries(spark: SparkSession, dir: String, nq: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qlabel"))

  private[graft] def embBase(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  private[graft] def knnResult(df: DataFrame): DataFrame =
    df.select(col("qid"), col("id").as("neighbor_id"), col("rank"))

  /** A query over the documents table alone. */
  private[graft] def overDocs(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables.documents(s, dir))

  /** A temp path for a gate's persisted artifact. */
  private[graft] def tempPath(prefix: String, leaf: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve(leaf).toString

  /** Session-lifetime memo for expensive DETERMINISTIC builds (lossless
    * codebooks, OPQ rotations, residual IVFPQ indexes) shared by several
    * gates in one Verify/Bench run. Keys carry the data dir and every
    * build parameter, so a hit is the identical computation; each gate
    * stays independently runnable — the cache only removes repeat trains
    * of the same artifact within one session (r5 item 8: bench wall
    * clock). Each build's seconds are recorded under its key, so Bench can
    * report fixture time apart from the query that happened to build it. */
  private val buildMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  // cached values are SparkSession-bound (DataFrames, resident RDD indexes,
  // broadcast-holding objects): the session's identity joins every key so a
  // second session in the same JVM (suites, sequential runMains) never
  // receives a handle bound to a stopped session — stale entries die with
  // their key
  private[graft] def memo[T <: AnyRef](s: SparkSession, key: String)(f: => T): T =
    buildMemo.computeIfAbsent(
      Integer.toHexString(System.identityHashCode(s)) + ":" + key,
      _ => {
        val t0 = System.nanoTime()
        val built = f
        buildSecs.put(key, (System.nanoTime() - t0) / 1e9)
        built
      }).asInstanceOf[T]

  /** Seconds of every memoized build so far, by memo key (a key built by
    * several sessions keeps its latest build). */
  def fixtureSeconds: Map[String, Double] =
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  // -- oracle-side helpers --------------------------------------------------

  /** Shared DuckDB oracle scaffolding for exact kNN: squared-L2 / dot in
    * DOUBLE via zipped unnest (bit-compatible with our codegen kernels). */
  private[graft] def knnOracle(nq: Int, k: Int, scoreSql: String, order: String,
                               filterSql: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
       |           FROM embeddings WHERE vec_id < $nq),
       |pairs AS (SELECT q.qid, e.vec_id AS nid,
       |                 unnest(e.embedding) AS x, unnest(q.qv) AS y
       |          FROM embeddings e CROSS JOIN q
       |          WHERE $filterSql),
       |scored AS (SELECT qid, nid, $scoreSql AS d FROM pairs GROUP BY qid, nid),
       |ranked AS (SELECT qid, nid AS neighbor_id,
       |                  row_number() OVER (PARTITION BY qid ORDER BY d $order, nid) AS rank
       |           FROM scored)
       |SELECT qid, neighbor_id, rank FROM ranked WHERE rank <= $k
       |""".stripMargin

  private[graft] val l2Sql = "sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"

  /** Integer L2 over floor(x*10) components, exact integer sums — the
    * oracle side of [[u8Expr]]. */
  private[graft] val u8L2Sql =
    """sum((CAST(floor(CAST(x AS DOUBLE) * 10) AS BIGINT) - CAST(floor(CAST(y AS DOUBLE) * 10) AS BIGINT))
      |  * (CAST(floor(CAST(x AS DOUBLE) * 10) AS BIGINT) - CAST(floor(CAST(y AS DOUBLE) * 10) AS BIGINT)))""".stripMargin

  /** Spark-side floor(x*10) quantization of a vector column to ARRAY<SHORT>. */
  private[graft] def u8Expr(c: String): org.apache.spark.sql.Column =
    expr(s"transform($c, x -> CAST(floor(CAST(x AS DOUBLE) * 10) AS SHORT))")

  /** DuckDB-side tokenizer CTE shared by the text oracles. */
  private[graft] val tokensCte =
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)"
}
