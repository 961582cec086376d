package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Blocks, EntityFrame}

/** One shared local session for the whole test JVM (sbt forks a single
  * test JVM; suites run sequentially against this). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Base suite: shared session + the reference's conftest fixtures
  * (FIXTURES.md §1-§5; reference tests/conftest.py:8-72). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** Fixture table A (conftest.py:8-27). */
  lazy val tableA: EntityFrame = EntityFrame(
    Seq(
      ("a1", "John McExample", "11-12-1973", "USA", Option("Engineer")),
      ("a2", "Maggie Smith", "02-02-1983", "USA", Option("Scientist")),
      ("a3", "Rebecca Smith", "04-12-1990", "Bulgaria", Option("Chemist")),
      ("a4", "Nushi Devi", "14-03-1990", "India", Option.empty[String]),
      ("a5", "Grzegorz Brzęczyszczykiewicz", "02-04-1970", "Poland", Option("Soldier")))
      .toDF("id", "Name", "Birthdate", "BirthCountry", "Occupation"),
    "A", "id")

  /** Fixture table B (conftest.py:30-45). */
  lazy val tableB: EntityFrame = EntityFrame(
    Seq(
      ("b1", "John", "McExample", "11-12-1973", Option.empty[String]),
      ("b2", "Maggie", "Smith", "02-02-1983", Option("USA")),
      ("b3", "Rebecca", "Smith", "04-12-1990", Option("Bulgaria")),
      ("b4", "Anh", "Nguyen", "04-12-1990", Option("Indonesia")),
      ("b5", "Nushi", "Zhang", "21-08-1989", Option("China")))
      .toDF("id", "FirstName", "GivenName", "Birthdate", "BirthCountry"),
    "B", "id")

  /** Runs `f`, which is expected to fail a Spark task, with the loggers
    * that print the failed task's stack trace (executor, task set
    * manager, MLlib instrumentation) switched off, and restores their
    * levels afterwards. Every other failure keeps its log. */
  def expectingTaskFailure[A](f: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager", "org.apache.spark.ml.util.Instrumentation")
    val saved = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try f
    finally saved.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  /** Collects `df`'s `id` and `cols`, ordered by id, twice: under
    * whole-stage codegen (a compile error fails instead of falling back)
    * and under the interpreted evaluator. A hand-written expression
    * writes its loop once per mode, so equal rows pin both copies. */
  def both(df: DataFrame, cols: Column*): Seq[Seq[Row]] = {
    def run(conf: (String, String)*): Seq[Row] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("id") +: cols: _*).orderBy("id").collect().toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    Seq(
      run("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      run("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }

  /** Build a Blocks table from a golden map key → (left ids, right ids). */
  def blocksOf(m: Map[String, (Seq[String], Seq[String])]): Blocks =
    Blocks(m.toSeq.map { case (k, (l, r)) => (k, l, r) }
      .toDF(Blocks.KeyCol, Blocks.LeftCol, Blocks.RightCol))

  /** Blocks → order-insensitive map (cells compared as sets —
    * reference tests/util.py:4-14). */
  def blockMap(b: Blocks): Map[String, (Set[String], Set[String])] =
    b.df.collect().map { row =>
      row.getString(0) -> (
        row.getSeq[String](1).toSet,
        row.getSeq[String](2).toSet)
    }.toMap

  def assertBlocksEqual(got: Blocks, want: Map[String, (Set[String], Set[String])]): Unit = {
    val g = blockMap(got)
    assert(g.keySet == want.keySet, s"block keys ${g.keySet} != ${want.keySet}")
    want.foreach { case (k, (l, r)) =>
      assert(g(k)._1 == l, s"block $k left ${g(k)._1} != $l")
      assert(g(k)._2 == r, s"block $k right ${g(k)._2} != $r")
    }
  }
}
