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
}
