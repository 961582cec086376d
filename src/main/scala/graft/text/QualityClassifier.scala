package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Discriminative document-quality classifier — the GPT-3/C4-style
  * "quality pump" (Brown et al. 2020 App. A: a linear classifier
  * trained to separate a curated reference corpus from unfiltered web
  * text, whose score then gates or re-weights the crawl; public
  * method). Complements the generative scorers already in the family
  * ([[TextAnalysis.lmScore]] / `dsirWeights`) with the discriminative
  * form.
  *
  * 100 TB shape — train small, score as a projection:
  *   - features are ROW-LOCAL column expressions (no shuffle, exactly
  *     SQL-mirrorable);
  *   - the fit runs on the labeled set only (reference + sampled
  *     negatives — eval-suite-sized, not the corpus);
  *   - scoring the corpus does NOT call `model.transform` (whose
  *     vector UDF would break whole-stage codegen): the learned
  *     coefficients are folded back as PLAN LITERALS and the sigmoid is
  *     plain column arithmetic — the corpus pass is one codegen'd
  *     projection, the same shape as [[TextAnalysis.qualityFilter]].
  */
object QualityClassifier {

  /** Feature names, fixed order (the coefficient vector is meaningful
    * only against this). All row-local and engine-portable. */
  val FeatureNames: Seq[String] =
    Seq("log_n_tokens", "mean_word_len", "stop_ratio", "dup_frac", "lex_en_ratio")

  /** Row-local feature expressions over a text column: whitespace token
    * count (log1p), mean word length, stopword ratio, duplicate-token
    * fraction, English lexicon-hit ratio — one pass of the
    * whitespace-token kernel ([[TextAnalysis.wsStats]]). Null text → ''
    * (rule shared with qualityFilter; oracles mirror the coalesce). */
  def featureCols(textCol: Column): Seq[Column] = {
    val st = TextAnalysis.wsStats(trim(lower(coalesce(textCol, lit("")))))
    val m = st("n_tokens").cast("double")
    Seq(
      log1p(m).as("log_n_tokens"),
      (st("n_chars").cast("double") / m).as("mean_word_len"),
      (st("n_stop").cast("double") / m).as("stop_ratio"),
      ((m - st("n_distinct")) / m).as("dup_frac"),
      (st("n_lex").cast("double") / m).as("lex_en_ratio"))
  }

  /** (idCol, label?, features...) frame. */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +: featureCols(col(textCol)): _*)

  final case class Model(coefficients: Array[Double], intercept: Double) {
    /** The decision function as a plain column expression over a frame
      * that already has the feature columns — plan literals, codegen'd. */
    def margin: Column =
      FeatureNames.zip(coefficients)
        .map { case (f, w) => col(f) * lit(w) }
        .foldLeft(lit(intercept): Column)(_ + _)
    def score: Column = lit(1.0) / (lit(1.0) + exp(-margin))
  }

  /** Fit a logistic regression on (features..., label) rows. The
    * labeled frame is reference-corpus-sized; MLlib's iterations run on
    * it alone. Deterministic (L-BFGS on a fixed frame). */
  def fit(labeled: DataFrame, maxIter: Int = 50, regParam: Double = 0.01): Model = {
    val assembled = labeled.select(
      array_to_vector(array(FeatureNames.map(col): _*)).as("features"),
      col("label"))
    val m = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .fit(assembled)
    Model(m.coefficients.toArray, m.intercept)
  }

  /** Deterministic low-quality negatives from arbitrary text: strip
    * stopwords, keep the first `keep` tokens — short, stopword-free
    * text that a length/stop-ratio-aware classifier must reject. The
    * standard bootstrap when no labeled negatives exist; mirrorable in
    * SQL so the oracle can reproduce the labeled set exactly. */
  def degrade(textCol: Column, keep: Int = 8): Column =
    concat_ws(" ", slice(
      org.apache.spark.sql.graft.TextOps.tokenFilter(
        split(trim(lower(coalesce(textCol, lit("")))), "\\s+"), 0, Text.Stopwords),
      1, keep))

  /** Train on reference-vs-degraded and score every corpus document:
    * output (idCol, quality_score in [0,1]) + the feature columns.
    * `reference` is the curated positive set (eval-suite-sized);
    * negatives are [[degrade]]d copies of a deterministic corpus sample
    * (md5(id) % sampleMod == 0). */
  def fitScore(corpus: DataFrame, reference: DataFrame,
               idCol: String, textCol: String,
               sampleMod: Int = 7): DataFrame = {
    val pos = features(reference.select(col(idCol), col(textCol)), idCol, textCol)
      .withColumn("label", lit(1.0))
    val neg = features(
      corpus.filter(Text.md5Long(col(idCol).cast("string")) % sampleMod === 0)
        .select(col(idCol), degrade(col(textCol)).as(textCol)),
      idCol, textCol).withColumn("label", lit(0.0))
    // single-class guard: with zero sampled negatives LogisticRegression
    // converges to an intercept-only model that scores EVERYTHING ~1.0 —
    // a silently useless quality pump. The count is one action over the
    // hash-sampled slice (eval-suite-sized by construction); fail loudly.
    val nNeg = neg.count()
    require(nNeg > 0,
      s"quality classifier got 0 bootstrap negatives (md5(id) % $sampleMod " +
        "== 0 matched no corpus row) — lower sampleMod or supply labeled " +
        "negatives; a single-class fit would score every document ~1.0")
    val model = fit(pos.unionByName(neg))
    features(corpus, idCol, textCol)
      .withColumn("quality_score", model.score)
  }
}
