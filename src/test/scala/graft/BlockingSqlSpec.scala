package graft

import graft.blockers._
import graft.core.Blocks

/** The SQL-only blocking surface: each recipe view must match its Scala
  * blocker bit-for-bit (same hash family, same tokenizer expression). */
class BlockingSqlSpec extends SparkSpec {

  private lazy val ready: Unit = {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    tableA.df.createOrReplaceTempView("sql_a")
    tableB.df.createOrReplaceTempView("sql_b")
  }
  private def attrsA = tableA.nonIdColumns
  private def attrsB = tableB.nonIdColumns

  test("token blocking view matches TokenBlocker") {
    ready
    BlockingSql.registerView(spark, "tok_blocks", BlockingSql.tokenBlocksSql(
      "sql_a", "id", attrsA, "sql_b", "id", attrsB))
    val viaSql = Blocks(spark.sql("SELECT * FROM tok_blocks"))
    assert(blockMap(viaSql) == blockMap(TokenBlocker().assign(tableA, tableB)))
  }

  test("standard blocking view matches StandardBlocker") {
    ready
    BlockingSql.registerView(spark, "std_blocks", BlockingSql.standardBlocksSql(
      "sql_a", "id", "BirthCountry", "sql_b", "id", "BirthCountry"))
    val viaSql = Blocks(spark.sql("SELECT * FROM std_blocks"))
    assert(blockMap(viaSql) ==
      blockMap(StandardBlocker("BirthCountry").assign(tableA, tableB)))
  }

  test("qgrams blocking view matches QgramsBlocker") {
    ready
    BlockingSql.registerView(spark, "qg_blocks", BlockingSql.qgramsBlocksSql(
      "sql_a", "id", "Name", "sql_b", "id", "FirstName", q = 3))
    val viaSql = Blocks(spark.sql("SELECT * FROM qg_blocks"))
    // QgramsBlocker on a single-attribute projection of each side
    val a = tableA.copy(df = tableA.df.select("id", "Name"))
    val b = tableB.copy(df = tableB.df.select("id", "FirstName"))
    assert(blockMap(viaSql) ==
      blockMap(QgramsBlocker("Name", 3).assign(a,
        b.copy(df = b.df.withColumnRenamed("FirstName", "Name")))))
  }

  test("minhash-LSH blocking view matches MinHashLSHBlocker") {
    ready
    BlockingSql.registerView(spark, "mh_blocks", BlockingSql.minHashBlocksSql(
      "sql_a", "id", attrsA, "sql_b", "id", attrsB, numPerm = 16, bands = 4))
    val viaSql = Blocks(spark.sql("SELECT * FROM mh_blocks"))
    assert(blockMap(viaSql) ==
      blockMap(MinHashLSHBlocker(numPerm = 16, bands = 4).assign(tableA, tableB)))
  }

  test("recipes stay inside whole-stage codegen (no UDF wrapper)") {
    ready
    val blocksPlan = spark.sql(BlockingSql.tokenBlocksSql(
      "sql_a", "id", attrsA, "sql_b", "id", attrsB))
      .queryExecution.executedPlan.toString
    assert(!blocksPlan.contains("BatchEvalPython") && !blocksPlan.contains("ScalaUDF"),
      blocksPlan)
    // graft_tokenize must expand to the native expression tree the Column
    // API emits (Spark's lower under the codegen'd TokenFilter kernel),
    // not a function wrapper or an interpreted lambda; under AQE the
    // pre-execution plan shows no WholeStageCodegen spans, so assert on
    // the expression tree itself
    val streamPlan = spark.sql(BlockingSql.tokenStreamSql("sql_a", "id", attrsA))
      .queryExecution.executedPlan.toString
    assert(streamPlan.contains("tokenfilter(lower(") && streamPlan.contains("explode("),
      streamPlan)
    assert(!streamPlan.contains("ScalaUDF") && !streamPlan.contains("lambdafunction"),
      streamPlan)
  }

  test("density blocking views match the density blocker (fixed eps + auto ladder)") {
    ready
    def scalaBlocks(assigner: ClusterAssigner) = blockMap(
      AttributeClusteringBlocker(assigner, minClusterSize = 1)
        .assign(tableA, tableB, None, None))
    // density_cluster form: fixed-eps DBSCAN* slice
    BlockingSql.registerDensityClusterView(spark, "density_cluster",
      "sql_a", "id", attrsA, "sql_b", "id", attrsB,
      eps = 0.5, minPts = 2, dims = 8)
    val viaSql = blockMap(Blocks(spark.sql("SELECT * FROM density_cluster")))
    assert(viaSql.nonEmpty)
    assert(viaSql == scalaBlocks(DensityClusterAssigner(
      graft.encoders.HashTokenEncoder(8), 0.5, 2)))
    // hdbscan_auto form: data-derived ladder + stability flat cut
    BlockingSql.registerDensityClusterView(spark, "hdbscan_auto",
      "sql_a", "id", attrsA, "sql_b", "id", attrsB,
      minPts = 2, dims = 8, autoLadderLevels = 3)
    val viaSqlAuto = blockMap(Blocks(spark.sql("SELECT * FROM hdbscan_auto")))
    assert(viaSqlAuto.nonEmpty)
    assert(viaSqlAuto == scalaBlocks(DensityClusterAssigner(
      graft.encoders.HashTokenEncoder(8), 0.5, 2, autoLadderLevels = 3)))
    // a SQL-only consumer reads the view like any table
    assert(spark.sql(
      "SELECT count(*) FROM density_cluster WHERE size(`left`) > 0").head.getLong(0) > 0)
  }
}
