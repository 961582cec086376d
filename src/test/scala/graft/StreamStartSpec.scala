package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.streaming.Queries
import graft.text.{Curate, Curation}

/** Resumed `Curate --stream` runs in one session: every wave's query
  * reuses the compiled code of the waves before it, and the rows match
  * the batch form of the whole corpus. */
class StreamStartSpec extends SparkSpec {
  import spark.implicits._

  private def enText(tag: String): String =
    ("the quick brown fox jumps over a lazy dog and then runs far away " +
      "with great speed through green fields toward distant hills ") + tag

  // ids rise wave by wave, so the stream's first-seen canonical is the
  // batch form's min id
  private lazy val waves = Seq(
    Seq(("a1", enText("alpha body one"), "s1"),
      ("a2", enText("contaminated window marker gram here"), "s2"),
      ("a3", "los las con para por una del solo texto frase aqui", "s1"),
      ("a4", enText("gamma body three"), "s2")),
    Seq(("b1", enText("alpha body one"), "s2"),
      ("b2", enText("delta body four"), "s1"),
      ("b3", "the and for that", "s2"),
      ("b4", enText("epsilon body five"), "s1")),
    Seq(("c1", enText("delta body four"), "s1"),
      ("c2", enText("zeta body six"), "s2"),
      ("c3", enText("contaminated window marker gram again"), "s1"),
      ("c4", enText("epsilon body five"), "s2")))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq

  test("resumed Curate --stream waves reuse compiled code; rows equal the batch form") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reuse_").toString
    Seq(("q1", "contaminated window marker gram")).toDF("doc_id", "text")
      .write.parquet(s"$dir/bench")
    val c = Curate.parseArgs(Array("--corpus", s"$dir/incoming",
      "--benchmark", s"$dir/bench", "--out", s"$dir/run", "--langs", "en",
      "--contam-n", "4", "--min-words", "5", "--manifest", "--stream"))
    new java.io.File(s"$dir/incoming").mkdirs()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val (compiles, jobCounts, schemas) = waves.zipWithIndex.map { case (w, i) =>
      // land one parquet file per wave, as an upstream writer would
      w.toDF("doc_id", "text", "source").coalesce(1)
        .write.parquet(s"$dir/staging$i")
      val part = new java.io.File(s"$dir/staging$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/incoming/wave$i.parquet"))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs0 = jobs.get
      val (runVerdicts, _) = Curate.run(spark, c)
      org.apache.spark.sql.graft.ListenerBridge.flushListenerBus(spark.sparkContext)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, jobs.get - jobs0,
        runVerdicts.schema)
    }.unzip3
    spark.sparkContext.removeSparkListener(counter)

    val corpus = waves.flatten.toDF("doc_id", "text", "source")
    val ref = Curation.verdicts(corpus.drop("source"),
      spark.read.parquet(s"$dir/bench"), allowedLangs = Seq("en"),
      contamN = 4, minWords = 5)
    val got = spark.read.parquet(s"$dir/run/verdicts")
    // Curate reads verdicts back with the written schema: it equals an
    // inferred read
    assert(schemas.forall(_ == got.schema))
    assert(rows(got.orderBy("id")) == rows(ref.orderBy("id")))
    assert(got.filter(col("drop_stage") === "duplicate").count() == 3L)
    val refFunnel = Curation.funnel(
      ref.join(corpus.select(col("doc_id").as("id"), col("source")), Seq("id")),
      Seq("source")).orderBy("source")
    assert(rows(spark.read.parquet(s"$dir/run/funnel")) == rows(refFunnel))
    assert(rows(spark.read.parquet(s"$dir/run/manifest").orderBy("id")) ==
      rows(ref.filter(col("keep")).select("id").orderBy("id")))
    info(s"compiles per wave: ${compiles.mkString(", ")}; " +
      s"jobs per wave: ${jobCounts.mkString(", ")}")
    // the third wave recompiles nothing its predecessors compiled
    // (13–14 classes a wave while each query had its own class loader)
    assert(compiles(2) <= 2, s"compiles per wave: $compiles")
  }

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Starts a noop query on `ss` through Queries.start and returns the
    * isolation setting the start saw. */
  private def isolationSeenByStart(ss: org.apache.spark.sql.SparkSession): String = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    var seen = ""
    val q = Queries.start(ss) {
      seen = ss.conf.get(Isolation)
      mem.toDF().writeStream.format("noop").start()
    }
    try { mem.addData(1, 2); q.processAllAvailable() } finally q.stop()
    seen
  }

  test("Queries.start restores the caller's isolation setting, set or unset") {
    val ss = spark.newSession()
    assert(!ss.conf.getAll.contains(Isolation))
    assert(isolationSeenByStart(ss) == "false")
    assert(!ss.conf.getAll.contains(Isolation))
    ss.conf.set(Isolation, "true")
    assert(isolationSeenByStart(ss) == "false")
    assert(ss.conf.getAll.get(Isolation) == Some("true"))
    // a failing start restores it too
    intercept[IllegalStateException] {
      Queries.start(ss)(throw new IllegalStateException("no start"))
    }
    assert(ss.conf.getAll.get(Isolation) == Some("true"))
  }

  test("Queries.start leaves isolation on for a session holding an artifact") {
    val ss = spark.newSession()
    val jar = java.nio.file.Files.createTempFile("graft_artifact_", ".jar")
    new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar)).close()
    assert(!org.apache.spark.sql.graft.ArtifactBridge.sessionArtifactAdded(ss))
    ss.addArtifact(jar.toString)
    assert(org.apache.spark.sql.graft.ArtifactBridge.sessionArtifactAdded(ss))
    assert(isolationSeenByStart(ss) == "true")
    assert(!ss.conf.getAll.contains(Isolation))
  }

  test("the driver-cut gram snapshot equals Dedup.benchmarkGrams") {
    val texts = Seq(
      "contaminated window marker gram", enText("alpha body one"),
      "the and for that", "los las con para por una del solo texto frase aqui",
      "", "   ", "\t \n", null, "\tLeading tab and trailing tab\t",
      "ÄRGER ÜBER Straße İstanbul ΣΊΣΥΦΟΣ", "one")
    val bench = texts.zipWithIndex.map { case (t, i) => (s"q$i", t) }
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 4)) {
      val lowered = trim(lower(coalesce(col("text"), lit(""))))
      val got = org.apache.spark.sql.graft.WindowHitCount.grams(
        bench.select(lowered).collect().iterator.map(_.getString(0)), n)
      val want = graft.dedup.Dedup.benchmarkGrams(bench, "doc_id", "text", n)
        .collect().map(_.getString(0))
      assert(got.size == got.toSet.size)
      assert(got.toSet == want.toSet, s"n=$n")
      assert(!got.contains(""))
    }
  }
}
