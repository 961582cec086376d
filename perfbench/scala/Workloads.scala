package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Experiment
import graft.core.{Blocks, EntityFrame}
import graft.dedup.Dedup
import graft.encoders.{CachedEncoder, FrameEncoder}
import graft.eval.Evaluation
import graft.functions.{Text, Vectors}
import graft.streaming.StreamingCuration
import graft.text.{Curate, Curation, TextAnalysis}

/** What one pass left behind for its output check: wave latencies (empty
  * for an Experiment pass, whose single wave is the pass itself), the
  * Experiment metrics JSON if any, and per-layer counts a traced pass
  * reads off its own calls. */
final case class PassOutput(waveS: Seq[Double] = Nil, json: String = "",
    layer: Map[String, Double] = Map.empty)

/** The verdict of an output check, with the quality metrics it measured. */
final case class Checked(error: Option[String], recall: Double, reductionRatio: Double)

trait Workload {
  /** Input records: entities on both sides, or documents. */
  def records: Long
  /** One pass through the user-facing entry point. */
  def run(spark: SparkSession): PassOutput
  /** The same pass as the entry point's own sequence of public module
    * calls, each inside a span. */
  def traced(spark: SparkSession, t: Tracer): PassOutput
  def check(spark: SparkSession, out: PassOutput): Checked
  /** Per-layer counts and kernel probes, measured once after the traced
    * passes and never timed as part of a pass. */
  def probes(spark: SparkSession): Map[String, Double]
}

object Workload {
  def apply(name: String, inputs: String, work: String, params: Map[String, String]): Workload =
    name match {
      case "er_token" => new ErWorkload(s"$inputs/oaei", work, params)
      case "curate_stream" => new CurateWorkload(inputs, work, params)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def du(path: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
    walk(new File(path))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  /** Rows per second of `kernel` over `rows` replicated to at least
    * `minRows`, spread over every core and cached, written to the noop
    * sink: the median of three timed writes after one warm-up write. */
  def kernelRps(spark: SparkSession, rows: DataFrame, minRows: Long)(
      kernel: DataFrame => DataFrame): Double = {
    val n0 = math.max(1L, rows.count())
    val data = rows.crossJoin(spark.range((minRows + n0 - 1) / n0).toDF("_rep"))
      .drop("_rep").repartition(spark.sparkContext.defaultParallelism).persist()
    val n = data.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      kernel(data).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val s = Stats.median(Seq.fill(3)(once()))
    data.unpersist(blocking = true)
    n / s
  }

  private val num = """-?[0-9.]+(?:[eE]-?[0-9]+)?"""

  /** A top-level scalar of the Experiment metrics JSON. */
  def field(json: String, key: String): Double =
    s""""$key":($num)""".r.findFirstMatchIn(json).map(_.group(1).toDouble)
      .getOrElse(throw new IllegalStateException(s"no '$key' in metrics: $json"))
}

/** `Experiment --blocker token` on a KG pair: load → assign → write →
  * eval, plus its `--compare embedding-knn` report. */
final class ErWorkload(data: String, work: String, params: Map[String, String]) extends Workload {
  private val out = s"$work/exp"
  private val c = Experiment.parseArgs(Array("--data", data, "--out", out,
    "--blocker", "token", "--compare", "embedding-knn", "--strategy", "lsh", "--k", params("k"),
    "--embeddings", s"$work/emb", "--force-encode"))
  val records: Long = params("records").toLong
  private var firstDice: Option[Double] = None

  def run(spark: SparkSession): PassOutput = PassOutput(json = Experiment.run(spark, c))

  /** Experiment.runFull's calls, with `assign` forced (persisted and
    * counted) so that its work lands in its own span and not in `write`. */
  def traced(spark: SparkSession, t: Tracer): PassOutput = {
    val (ds, leftLen, rightLen) = t("load") {
      val d = Experiment.loadDataset(spark, c)
      (d, d.left.ids.distinct().count(), d.right.ids.distinct().count())
    }
    val encoder = Experiment.encoderFor(c)
    val spanned = new FrameEncoder {
      def encode(frame: EntityFrame, rel: Option[DataFrame]): DataFrame =
        t("encode")(encoder.encode(frame, rel))
    }
    val (blocks, nBlocks) = t("assign") {
      val b = Experiment.blockerFor(c, spanned).assign(ds.left, ds.right, ds.leftRel, ds.rightRel)
      b.df.persist()
      (b, b.df.count())
    }
    val persisted = t("write") {
      blocks.write(s"$out/blocks", ds.left.tableName, ds.right.tableName)
      Blocks.read(spark, s"$out/blocks")
    }
    blocks.df.unpersist(blocking = true)
    val r = t("eval")(Evaluation.evaluate(persisted, ds.gold.get, leftLen, rightLen))
    // --compare <name>: the named blocker's assignment (forced, like
    // assign) and the Dice of the two true-positive sets, as in
    // Experiment's eval phase
    val dice = c.compare.map { name =>
      t("compare") {
        val other = Experiment.blockerFor(c.copy(blocker = name), spanned)
          .assign(ds.left, ds.right, ds.leftRel, ds.rightRel)
        other.df.persist()
        other.df.count()
        val d = t("eval")(Evaluation.diceOfTruePositives(persisted, other, ds.gold.get))
        other.df.unpersist(blocking = true)
        // Experiment prints six decimals; so does this, for the check
        s""","dice_tp":${String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))}"""
      }
    }.getOrElse("")
    val misses = encoder match { case ce: CachedEncoder => ce.misses.get().toDouble; case _ => 0.0 }
    PassOutput(
      json = s"""{"tp":${r.truePositive},"pairs":${r.compWithBlocking},""" +
        s""""recall":${r.recall},"reduction_ratio":${r.reductionRatio}$dice}""",
      layer = Map("load.rows" -> (leftLen + rightLen).toDouble, "assign.blocks" -> nBlocks.toDouble,
        "eval.candidate_pairs" -> r.compWithBlocking.toDouble, "eval.precision" -> r.precision,
        "encode.misses" -> misses))
  }

  def check(spark: SparkSession, o: PassOutput): Checked = {
    import Workload.field
    val pairs = field(o.json, "pairs").toLong
    val tp = field(o.json, "tp").toLong
    val (ep, et) = (params("pairs").toLong, params("tp").toLong)
    val dice = field(o.json, "dice_tp")
    if (firstDice.isEmpty) firstDice = Some(dice)
    val error =
      if (pairs != ep || tp != et) Some(s"pairs/tp $pairs/$tp, DuckDB counts $ep/$et")
      else if (!(dice > 0 && dice <= 1) || firstDice.get != dice)
        Some(s"dice_tp $dice, first pass ${firstDice.get}")
      else None
    Checked(error, field(o.json, "recall"), field(o.json, "reduction_ratio"))
  }

  def probes(spark: SparkSession): Map[String, Double] = {
    val blocks = Blocks.read(spark, s"$out/blocks").df
    val maxPairs = blocks.agg(max(size(col(Blocks.LeftCol)).cast("long") *
      size(col(Blocks.RightCol)))).head().getLong(0)
    val ds = Experiment.loadDataset(spark, c)
    val texts = ds.left.concatValues().select(col(EntityFrame.ConcCol).as("t"))
      .unionByName(ds.right.concatValues().select(col(EntityFrame.ConcCol).as("t")))
    val base = Map(
      "load.input_mb" -> Workload.du(data) / 1e6,
      "write.mb" -> Workload.du(s"$out/blocks") / 1e6,
      "assign.max_block_pairs" -> maxPairs.toDouble)
    val vecs = spark.read.parquet(s"$work/emb/${ds.left.tableName}.parquet",
      s"$work/emb/${ds.right.tableName}.parquet").select("vec")
    val q = typedLit(vecs.head().getSeq[Double](0))
    base ++ Map(
      "encode.rows" -> vecs.count().toDouble,
      "kernel.dot.rps" -> Workload.kernelRps(spark, vecs, 400000L)(
        _.select(Vectors.cosine(col("vec"), q).as("c"))),
      "kernel.tokenize.rps" -> Workload.kernelRps(spark, texts, 400000L)(
        _.select(size(Text.tokenize(col("t"))).as("n"))))
  }
}

/** `Curate --stream` on a generated corpus: the deployment loop of runs
  * that each drain one new wave file. */
final class CurateWorkload(data: String, work: String, params: Map[String, String]) extends Workload {
  private val out = s"$work/curate"
  private val input = s"$work/incoming"
  private val c = Curate.parseArgs(Array("--corpus", input,
    "--benchmark", s"$data/bench.parquet", "--out", out, "--manifest", "--stream"))
  private val waves: Seq[File] =
    new File(s"$data/waves").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  val records: Long = params("records").toLong

  private def fresh(): Unit = {
    Workload.deleteRecursively(new File(out))
    Workload.deleteRecursively(new File(input))
    new File(input).mkdirs()
  }

  /** Land a wave file atomically, as an upstream writer would. */
  private def land(f: File): String = {
    val tmp = new File(input, s".${f.getName}.tmp").toPath
    Files.copy(f.toPath, tmp)
    val dst = new File(input, f.getName).toPath
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toString
  }

  def run(spark: SparkSession): PassOutput = {
    fresh()
    PassOutput(waveS = waves.map { f =>
      land(f)
      val t0 = System.nanoTime()
      Curate.run(spark, c)
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** Curate.run's calls, wave by wave. `decontam` is its own call of
    * Dedup.decontaminate on the wave's rows: StreamingCuration.verdicts
    * makes that call internally, where no span reaches it from outside, so
    * a traced pass does the decontamination work twice. */
  def traced(spark: SparkSession, t: Tracer): PassOutput = {
    val bench = spark.read.parquet(c.benchmark.get)
    def decontam(rows: DataFrame): Double = t("decontam") {
      Dedup.decontaminate(rows, bench, c.idCol, c.textCol, c.contamN)
        .filter(col("contaminated")).count().toDouble
    }
    fresh()
    var hits = 0.0
    waves.foreach { f =>
      val landed = land(f)
      t("wave") {
        hits += decontam(spark.read.parquet(landed))
        val corpus = spark.read.parquet(c.corpus)
        t("verdicts") {
          val src = spark.readStream.schema(corpus.schema).parquet(c.corpus)
          StreamingCuration.verdicts(src, bench, c.idCol, c.textCol, allowedLangs = c.langs,
              contamN = c.contamN, minWords = c.minWords)(spark)
            .writeStream.format("parquet")
            .option("path", s"${c.out}/verdicts")
            .option("checkpointLocation", s"${c.out}/_checkpoint")
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        t("funnel")(funnel(spark, corpus))
      }
    }
    PassOutput(layer = Map("decontam.hits" -> hits))
  }

  /** Curate.run after its verdicts: the per-source funnel and the manifest. */
  private def funnel(spark: SparkSession, corpus: DataFrame): Unit = {
    val g = c.groupCol.get
    val vg = spark.read.parquet(s"${c.out}/verdicts")
      .join(corpus.select(col(c.idCol).cast("string").as("id"), col(g)), Seq("id"))
    Curation.funnel(vg, Seq(g)).orderBy(g).write.mode("overwrite").parquet(s"${c.out}/funnel")
    spark.read.parquet(s"${c.out}/verdicts").filter(col("keep"))
      .select("id").write.mode("overwrite").parquet(s"${c.out}/manifest")
  }

  /** Every verdict must equal the generator's expected verdict. Recall is
    * the share of planted duplicates and contaminated documents the
    * verdicts flag; the reduction ratio is the share of documents removed. */
  def check(spark: SparkSession, o: PassOutput): Checked = {
    val v = spark.read.parquet(s"$out/verdicts").select(col("id"),
      col("drop_stage").as("v_stage"), col("dup_of").as("v_dup"), col("n_hits"), col("keep"),
      lit(true).as("v_row"))
    val e = spark.read.parquet(s"$data/expect.parquet").select(col("id"),
      col("drop_stage").as("e_stage"), col("dup_of").as("e_dup"), lit(true).as("e_row"))
    val planted = col("e_stage").isin("duplicate", "contaminated")
    val r = e.join(v, Seq("id"), "full_outer").agg(
      count(when(col("v_row").isNull || col("e_row").isNull ||
        !(col("v_stage") <=> col("e_stage")) || !(col("v_dup") <=> col("e_dup")), 1)),
      count(when(planted, 1)),
      count(when(planted && (col("v_dup").isNotNull || col("n_hits") > 0), 1)),
      count(when(col("keep"), 1)),
      count(col("v_row"))).head()
    val (wrong, nPlanted, found, kept, rows) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    Checked(
      if (wrong == 0 && rows == records) None
      else Some(s"$wrong of $rows verdicts differ from the expected verdicts of $records documents"),
      found.toDouble / math.max(1L, nPlanted), 1.0 - kept.toDouble / math.max(1L, rows))
  }

  def probes(spark: SparkSession): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/corpus.parquet").select(col("doc_id"), col("text"))
    Map(
      "verdicts.rows" -> spark.read.parquet(s"$out/verdicts").count().toDouble,
      "funnel.rows" -> spark.read.parquet(s"$out/funnel").count().toDouble,
      "kernel.tokenize.rps" -> Workload.kernelRps(spark, docs, 20000L)(
        _.select(size(Text.tokenize(col("text"))).as("n"))),
      "kernel.tag.rps" -> Workload.kernelRps(spark, docs, 20000L)(d =>
        TextAnalysis.qualityFilter(d.withColumn("lang", TextAnalysis.langId(col("text"))),
          passthrough = Seq("lang"))),
      "kernel.ngram.rps" -> Workload.kernelRps(spark, docs, 20000L)(
        _.select(size(Dedup.windowsArray(col("text"), c.contamN)).as("n"))))
  }
}
