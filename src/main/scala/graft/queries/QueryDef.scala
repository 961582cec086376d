package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark DataFrame program over the testdata
  * tables plus (when SQL-expressible) the equivalent DuckDB oracle SQL.
  * Column names/types must match the oracle exactly — the driver sorts
  * columns by name and hashes values.
  *
  * The record also carries everything else keyed by the query's name:
  * its `docs/OPERATORS.md` row ([[graft.Catalog]]: `api` is the library
  * API it exercises, `desc` what it computes) and, in `auditAllow`, why
  * a CartesianProduct / BroadcastNestedLoopJoin in its plan is
  * acceptable ([[graft.PlanAudit]] flags the operator otherwise).
  *
  * Oracles replay, never share code with, the Spark side. A DuckDB
  * chain that several oracles use is written once, as a fragment beside
  * its queries (`private[queries]` when another module reuses it), and
  * takes as parameters only what differs between its callers. Every
  * oracle string is pinned by sha256 in `oracle_sql.sha256`
  * (`OracleSqlSpec`); `sbt 'Test/runMain graft.OracleSqlSpec'` prints
  * the file for an intended change.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    api: String,
    desc: String,
    auditAllow: Option[String] = None)

object QueryDef {
  /** Parquet table loader rooted at the per-SF dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` has shipped in two parquet shapes across
    * testdata generations: TIMESTAMP(NANOS), which Spark 4 only reads as
    * long (spark.sql.legacy.parquet.nanosAsLong=true, set in every
    * session builder), and TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark 4 reads as TIMESTAMP_NTZ. Normalize both to a session-tz
    * TIMESTAMP (UTC everywhere) so downstream unix_micros/window/cast
    * logic — and the DuckDB oracle, which sees naive UTC either way —
    * get identical values. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** The `ts` normalization alone, shared with streaming readers (a
    * readStream over the same parquet sees the same two shapes). */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer division: `/` on a long column promotes to double, whose
        // 53-bit mantissa cannot represent epoch-nanos (~1.7e18) exactly —
        // the ±hundreds-of-ns rounding error can flip a second boundary vs
        // DuckDB's native-nanos epoch(). `div` stays in long arithmetic.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall-clock reinterpreted as UTC instant (session tz is UTC,
        // so the wall-clock fields are preserved bit-for-bit)
        raw.withColumn("ts", to_timestamp(col("ts")))
      case _ => raw
    }
  }

  /** A blocker's output as (block_key, left_ids, right_ids) rows — the
    * id lists comma-joined — ordered by block key: the shape every
    * blocking query's oracle replays. */
  def blockRows(b: graft.core.Blocks): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, col}
    import graft.core.Blocks._
    b.df.select(col(KeyCol),
        array_join(col(LeftCol), ",").as("left_ids"),
        array_join(col(RightCol), ",").as("right_ids"))
      .orderBy(KeyCol)
  }

  /** customer and supplier as (id, key) blocking sides keyed by their
    * nation — the key-equality blocking fixture. */
  def nationSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    (table(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").cast("string").as("key")),
     table(spark, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_nationkey").cast("string").as("key")))
  }

  /** `docs` split into even/odd doc_id entity frames of (doc_id, text). */
  def docSides(docs: DataFrame): (graft.core.EntityFrame, graft.core.EntityFrame) = {
    import org.apache.spark.sql.functions.col
    def side(parity: Int, name: String) = graft.core.EntityFrame(
      docs.filter(col("doc_id") % 2 === parity).select(col("doc_id"), col("text")),
      name, "doc_id")
    (side(0, "docs_even"), side(1, "docs_odd"))
  }

  /** Shared tokenizer fragments — MUST stay in lockstep with
    * [[graft.functions.Text.tokenize]]. */
  val stopwordsSqlList: String =
    graft.functions.Text.Stopwords.map(s => s"'$s'").mkString("(", ",", ")")

  /** DuckDB token stream: SELECT <id> AS id, tok AS key FROM <table>. */
  def duckTokens(idExpr: String, textExpr: String, table: String, minLen: Int = 3): String =
    s"""SELECT id, tok AS key FROM (
       |  SELECT $idExpr AS id,
       |         unnest(regexp_split_to_array(lower($textExpr), '[^a-z0-9]+')) AS tok
       |  FROM $table)
       |WHERE length(tok) >= $minLen AND tok NOT IN $stopwordsSqlList""".stripMargin

  /** The distinct (id, key) tokens `lt`/`rt` of the even/odd documents,
    * opening a WITH chain — the DuckDB side of [[docSides]]. */
  val docTokenSidesSql: String =
    s"""WITH lt AS (SELECT DISTINCT * FROM (
       |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
       |rt AS (SELECT DISTINCT * FROM (
       |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),""".stripMargin
}
