package graft.blockers

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, MinHashLSHModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Blocks, EntityFrame}
import graft.functions.Text

/** MLlib-backed MinHash-LSH blocker — the `approxSimilarityJoin`
  * formulation SURVEY.md M1 maps the reference to. Alternative to
  * [[MinHashLSHBlocker]] (md5 family): MLlib's seeded `(a·x+b) mod p`
  * hashes are deterministic per seed but not reproducible in SQL, so
  * this variant is spec-tested rather than oracle-checked. Use it when
  * Jaccard-distance thresholding (rather than explicit banding) is the
  * natural contract; both are fully distributed.
  *
  * Two execution paths, switched on `maxBlockComparisons`:
  *
  *   - `0` (default): MLlib's own `model.approxSimilarityJoin` — the
  *     exact MLlib contract (candidates = pairs agreeing on ≥ 1 of
  *     `numHashTables` MinHash values, verified by `keyDistance` =
  *     Jaccard over HashingTF feature indices). Its candidate join is
  *     OR-amplified hash equality with NO volume bound and it shuffles
  *     full feature vectors through the pair stream — fine for modest
  *     corpora, the known scale hazard on dense ones.
  *
  *   - `> 0`: the scale-safe native formulation. Same candidate
  *     contract via the fitted model's per-table hashes, but the join
  *     carries only (bucket, id); degenerate buckets whose left×right
  *     product exceeds the cap are anti-filtered BEFORE the join (the
  *     [[TokenBlocker]] hot-key treatment — where the bound must live
  *     at 100 TB); pairs are deduped while still skinny, then verified
  *     with exact token-set Jaccard via `array_intersect`/`array_union`
  *     (codegen'd built-ins). Verification semantics match MLlib's
  *     `keyDistance` up to hash collisions inside `numFeatures`
  *     buckets (~|tokens|²/2·numFeatures expected per doc — negligible
  *     at the 2^18 default). Fixed stage overhead is higher (counts +
  *     anti-filters + re-joins), so at toy scale the approx path is
  *     faster — the cap is what survives a dense 100 TB corpus.
  *
  * Output shape (both paths): per-pair stream grouped into blocks keyed
  * by the right id (the reference's probe-result shape, lsh.py:183-213).
  */
final case class MlLibMinHashBlocker(
    jaccardThreshold: Double = 0.5,
    numHashTables: Int = 8,
    numFeatures: Int = 1 << 18,
    minTokenLength: Int = 3,
    seed: Long = 42L,
    maxBlockComparisons: Long = 0L,
    // F1 tokenizer seam (the TokenBlocker contract); None = pinned regex
    tokenizer: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)
  extends Blocker {

  /** (id, tokens) with the binary term-frequency vector MLlib hashes. */
  private def featurize(f: EntityFrame): DataFrame = {
    val conc = col(graft.core.EntityFrame.ConcCol)
    val tokCol = tokenizer.map(_(conc))
      .getOrElse(Text.tokenize(conc, minTokenLength))
    val toks = f.concatValues()
      .select(col(f.idCol).cast("string").as("id"), tokCol.as("tokens"))
      .filter(size(col("tokens")) > 0)
    new HashingTF()
      .setInputCol("tokens").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
      .transform(toks)
  }

  /** (bucket, id) pairs: one row per (hash table, MinHash value). No
    * dedup needed — the table index prefixes the key, so a doc emits
    * exactly `numHashTables` distinct buckets. */
  private def buckets(model: MinHashLSHModel, featurized: DataFrame): DataFrame =
    model.transform(featurized)
      .select(col("id"), posexplode(col("hashes")).as(Seq("t", "hv")))
      .select(col("id"),
        concat(col("t"), lit(":"), vector_to_array(col("hv")).getItem(0)).as("bkey"))

  /** lid/rid pair stream via MLlib's own join (uncapped). */
  private def approxJoinPairs(
      model: MinHashLSHModel, lf: DataFrame, rf: DataFrame): DataFrame =
    model.approxSimilarityJoin(lf, rf, 1.0 - jaccardThreshold, "dist")
      .select(col("datasetA.id").as("lid"), col("datasetB.id").as("rid"))

  /** lid/rid pair stream via the capped native bucket join. `lf`/`rf`
    * arrive ALREADY persisted (assign persists them before the fit). */
  private def cappedPairs(
      model: MinHashLSHModel, lf: DataFrame, rf: DataFrame): DataFrame = {
    // numHashTables skinny rows per doc; persisted because the hot-bucket
    // counts, the anti-filters, and the pair join each reference them —
    // without the persist every reference re-runs the MLlib transform
    val lb = buckets(model, lf).withColumnRenamed("id", "lid").persist()
    val rb = buckets(model, rf).withColumnRenamed("id", "rid").persist()
    val (cl, cr) = Blocker.dropHotKeys(lb, rb, "bkey", maxBlockComparisons)
    val cand = cl.join(cr, Seq("bkey")).select("lid", "rid").distinct()
    // verified pair list is output-sized: materialize it and release the
    // bucket caches (CacheScope contract)
    graft.core.CacheScope.seal(
      cand
        .join(lf.select(col("id").as("lid"), col("tokens").as("ltoks")), Seq("lid"))
        .join(rf.select(col("id").as("rid"), col("tokens").as("rtoks")), Seq("rid"))
        .filter(size(array_intersect(col("ltoks"), col("rtoks"))).cast("double")
          / size(array_union(col("ltoks"), col("rtoks"))) >= jaccardThreshold)
        .select("lid", "rid"),
      lb, rb, lf, rf)
  }

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks = {
    // capped path: persist the featurized sides BEFORE the fit — each
    // feeds the fit's first-row dimensionality probe, its bucket
    // transform AND the exact-jaccard verification join (without the
    // persist the concat+tokenize+HashingTF pipeline evaluates up to 3×
    // per side); released in cappedPairs' seal
    val capped = maxBlockComparisons > 0
    val lf = if (capped) featurize(left).persist() else featurize(left)
    val rf = if (capped) featurize(right).persist() else featurize(right)
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
      .fit(lf)
    val pairs =
      if (maxBlockComparisons > 0) cappedPairs(model, lf, rf)
      else approxJoinPairs(model, lf, rf)
    Blocks(pairs.groupBy(col("rid").as(Blocks.KeyCol))
      .agg(array_sort(collect_set(col("lid"))).as(Blocks.LeftCol))
      .withColumn(Blocks.RightCol, array(col(Blocks.KeyCol))))
  }
}
