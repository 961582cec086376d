package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `spark-submit`-able corpus-curation driver around
  * [[Curation.verdicts]]/[[Curation.funnel]]: point it at a corpus
  * parquet (and optionally a benchmark parquet to decontaminate
  * against), get back the per-document verdict table, the per-group
  * funnel report, and — with `--manifest` — the surviving manifest,
  * each written as parquet under `--out`.
  *
  * Usage:
  *   runMain graft.text.Curate --corpus PATH [--benchmark PATH]
  *     --out DIR [--id doc_id] [--text text] [--langs en,de]
  *     [--contam-n 8] [--min-words 20] [--group source] [--manifest]
  *
  * With no `--benchmark` the contamination stage is skipped (n_hits 0
  * for every document) — the other gates still run. The funnel groups
  * by `--group` when the column exists, else reports one global row.
  */
object Curate {

  final case class Config(
      corpus: String = "", benchmark: Option[String] = None,
      out: String = "", idCol: String = "doc_id", textCol: String = "text",
      langs: Seq[String] = Seq("en"), contamN: Int = 8,
      minWords: Int = 20, groupCol: Option[String] = Some("source"),
      manifest: Boolean = false,
      stream: Boolean = false, stateTtl: Option[String] = None,
      tsCol: String = "ts", watermark: String = "0 seconds")

  val Usage: String =
    """usage: graft.text.Curate --corpus PATH --out DIR [--benchmark PATH]
      |  [--id COL] [--text COL] [--langs en,de] [--contam-n N]
      |  [--min-words N] [--group COL|none] [--manifest]
      |  [--stream [--state-ttl DUR] [--ts COL] [--watermark DUR]]""".stripMargin

  def parseArgs(args: Array[String]): Config = {
    @annotation.tailrec
    def go(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "--corpus" :: v :: t => go(t, c.copy(corpus = v))
      case "--benchmark" :: v :: t => go(t, c.copy(benchmark = Some(v)))
      case "--out" :: v :: t => go(t, c.copy(out = v))
      case "--id" :: v :: t => go(t, c.copy(idCol = v))
      case "--text" :: v :: t => go(t, c.copy(textCol = v))
      case "--langs" :: v :: t => go(t, c.copy(langs = v.split(",").toSeq))
      case "--contam-n" :: v :: t => go(t, c.copy(contamN = v.toInt))
      case "--min-words" :: v :: t => go(t, c.copy(minWords = v.toInt))
      case "--group" :: "none" :: t => go(t, c.copy(groupCol = None))
      case "--group" :: v :: t => go(t, c.copy(groupCol = Some(v)))
      case "--manifest" :: t => go(t, c.copy(manifest = true))
      case "--stream" :: t => go(t, c.copy(stream = true))
      case "--state-ttl" :: v :: t => go(t, c.copy(stateTtl = Some(v)))
      case "--ts" :: v :: t => go(t, c.copy(tsCol = v))
      case "--watermark" :: v :: t => go(t, c.copy(watermark = v))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val c = go(args.toList, Config())
    require(c.corpus.nonEmpty, "--corpus is required")
    require(c.out.nonEmpty, "--out is required")
    require(c.stateTtl.isEmpty || c.stream,
      "--state-ttl only applies to --stream (batch curation holds no state)")
    require(c.watermark == "0 seconds" || c.stateTtl.nonEmpty,
      "--watermark only applies with --state-ttl (the unbounded form " +
        "does not watermark, so no event is ever late)")
    c
  }

  /** Run the funnel; returns (verdicts, funnel) after writing outputs.
    *
    * `--stream` runs the INGEST form ([[
    * graft.streaming.StreamingCuration.verdicts]]) over a parquet
    * readStream of the corpus directory (Trigger.AvailableNow — drains
    * what exists, then stops; rerunning resumes from the checkpoint
    * and processes only NEW files, which is the deployment loop).
    * `--state-ttl` bounds the dup-canonical store on an unbounded feed
    * — `--ts` names the event-time column it expires against; absent
    * columns fail loudly here, not as a mid-stream analysis error.
    * `--watermark` sets the allowed event-time disorder ACROSS batches
    * in TTL mode: a document older than (max prior event time − delay)
    * is dropped as late BEFORE the dedup state op — silently, no
    * verdict row (standard watermark discipline). The default delay of
    * 0 seconds is right only for feeds whose files arrive in event-time
    * order; a rerun loop ingesting out-of-order files must raise it to
    * cover the disorder, and `--state-ttl` must stay above it. */
  def run(spark: SparkSession, c: Config): (DataFrame, DataFrame) = {
    val corpus = spark.read.parquet(c.corpus)
    val bench = c.benchmark
      .map(spark.read.parquet(_))
      // empty benchmark frame = no grams = contamination never fires,
      // without a second code path
      .getOrElse(corpus.limit(0))
    val writtenSchema = if (c.stream) {
      require(c.stateTtl.isEmpty || corpus.columns.contains(c.tsCol),
        s"--state-ttl needs event-time column '${c.tsCol}' in the corpus " +
          s"(name it with --ts); found: ${corpus.columns.mkString(", ")}")
      val src = spark.readStream.schema(corpus.schema).parquet(c.corpus)
      // verdicts runs its benchmark-gram collect on this session; only the
      // start goes through Queries.start
      val v = graft.streaming.StreamingCuration.verdicts(
          src, bench, c.idCol, c.textCol,
          allowedLangs = c.langs, contamN = c.contamN, minWords = c.minWords,
          stateTtl = c.stateTtl, tsCol = c.tsCol, watermark = c.watermark)(spark)
      graft.streaming.Queries.start(spark)(v.writeStream.format("parquet")
        .option("path", s"${c.out}/verdicts")
        .option("checkpointLocation", s"${c.out}/_checkpoint")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()).awaitTermination()
      v.schema
    } else {
      val v = Curation.verdicts(corpus, bench, c.idCol, c.textCol,
        allowedLangs = c.langs, contamN = c.contamN, minWords = c.minWords)
      v.write.mode("overwrite").parquet(s"${c.out}/verdicts")
      v.schema
    }
    // the written frame's schema: no schema-inference job on the read-back
    val verdicts = spark.read.schema(writtenSchema).parquet(s"${c.out}/verdicts")
    val grouped = c.groupCol.filter(corpus.columns.contains) match {
      case Some(g) =>
        val vg = verdicts.join(corpus.select(col(c.idCol).cast("string").as("id"),
          col(g)), Seq("id"))
        // a few group rows: one sorted partition, no range-sampling job
        Curation.funnel(vg, Seq(g)).coalesce(1).sortWithinPartitions(g)
      case None => Curation.funnel(verdicts)
    }
    grouped.write.mode("overwrite").parquet(s"${c.out}/funnel")
    if (c.manifest)
      verdicts.filter(col("keep"))
        .select("id").write.mode("overwrite").parquet(s"${c.out}/manifest")
    (verdicts, grouped)
  }

  def main(args: Array[String]): Unit = {
    val c =
      try parseArgs(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); System.err.println(Usage); sys.exit(2)
      }
    val spark = graft.Harness.session("graft-curate")
    try {
      val (_, funnel) = run(spark, c)
      funnel.show(100, truncate = false)
    } finally spark.stop()
  }
}
