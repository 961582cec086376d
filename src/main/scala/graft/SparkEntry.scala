package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in `graft.queries.*`, grouped by SURVEY.md §2 area; this
  * object just flattens them into the driver's shape.
  */
object SparkEntry {

  /** The query modules in SURVEY.md §2 order, each under its catalog
    * section title — the one list the registry, [[Catalog]] and
    * [[PlanAudit]] read. */
  val modules: Seq[(String, Seq[(String, QueryDef)])] = Seq(
    "Core blocking & text primitives" -> CoreQueries.defs,
    "Relational frames, importance & graph" -> RelationalQueries.defs,
    "Similarity search, encoders & embedding blockers" -> SimilarityQueries.defs,
    "Deduplication & corpus curation" -> DedupQueries.defs,
    "Events, streaming & multimodal" -> EventQueries.defs,
    "Propagation encoders & blocker evaluation" -> EncoderQueries.defs)

  /** Name -> record. Throws, naming them, when any name is listed more
    * than once: a Map literal would keep the last copy without a word. */
  private[graft] def registryOf(defs: Seq[(String, QueryDef)]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_._1).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.toMap
  }

  private[graft] lazy val registry: Map[String, QueryDef] =
    registryOf(modules.flatMap(_._2))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * end-to-end token blocking (scan → concat → tokenize → explode →
    * collect_set agg → join). */
  def entry(spark: SparkSession): DataFrame =
    registry("tb_token_blocker").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, d) if d.oracle.isDefined => k -> d.oracle.get }
}
