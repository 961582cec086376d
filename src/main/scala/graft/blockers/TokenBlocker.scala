package graft.blockers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Blocks, EntityFrame}
import graft.functions.Text

/** Token blocking (reference src/klinker/blockers/token_blocking.py:64-165):
  * concat all attribute values per entity → tokenize → one block per
  * token shared by both sides.
  *
  * Scale design: hot tokens are THE skew hazard (SURVEY §7.3). When
  * `maxBlockComparisons > 0`, oversized tokens are dropped *before* the
  * `collect_set` materializes their arrays: a cheap count-aggregate per
  * (token, side) feeds an anti-filter, so neither the agg buffers nor the
  * join ever see the hot keys. This is the purge (P10) pushed below the
  * join, where it must live at 100 TB.
  */
final case class TokenBlocker(
    minTokenLength: Int = 3,
    stopwords: Seq[String] = Text.Stopwords,
    maxBlockComparisons: Long = 0L,
    // the F1 tokenizer seam (reference FilteredTokenizer's tokenize_fn,
    // token_blocking.py:22-27): the full concat-value → token-array
    // mapping, filtering included. None = the pinned regex tokenizer;
    // Text.nltkTokenize(_) gives NLTK word_tokenize parity.
    tokenizer: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)
  extends Blocker {

  /** (id, token) pairs for one side. */
  private[graft] def tokens(f: EntityFrame): DataFrame = {
    val conc = col(EntityFrame.ConcCol)
    val toks = tokenizer.map(_(conc))
      .getOrElse(Text.tokenize(conc, minTokenLength, stopwords))
    f.concatValues()
      .select(
        col(f.idCol).cast("string").as("id"),
        explode(toks).as("key"))
      .distinct()
  }

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks = {
    val (lt, rt) = Blocker.dropHotKeys(
      tokens(left), tokens(right), "key", maxBlockComparisons)
    Blocker.blockJoin(lt, rt)
  }
}

/** Partitioning token blocker (reference token_blocking.py:207-248, M2):
  * the sparse count-matrix product `X_left @ X_right.T` in relational
  * form — entities sharing at least `minOverlap` tokens form one block
  * per left entity. Candidates come from the token equi-join (sparse
  * path: only co-occurring tokens generate work); overlap counting
  * groups directly on the (left id, right id) pair.
  *
  * Join strategy switches on the right token stream's measured size:
  * under `broadcastThresholdRows` it is broadcast and the left stream's
  * explicit pre-partitioning by id carries through the join into the
  * overlap aggregate (one stage, no post-blowup exchange — AQE would
  * size partitions by the tiny pre-join input, not the blowup);
  * over it, the join shuffles on the token key and the hot-token cap
  * (`maxBlockComparisons`) bounds the dense blowup — the 100 TB path.
  */
final case class PartitioningTokenBlocker(
    minOverlap: Int = 1,
    minTokenLength: Int = 3,
    stopwords: Seq[String] = Text.Stopwords,
    broadcastThresholdRows: Long = 4000000L,
    maxBlockComparisons: Long = 0L,
    tokenizer: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None)
  extends Blocker {

  /** (id, rid, overlap) candidate pairs from (key, id) / (key, rid)
    * token streams, with the size-switched join. */
  private[graft] def overlapPairs(lt0: DataFrame, rt0: DataFrame,
      sealOutput: Boolean = true): DataFrame = {
    val par = lt0.sparkSession.sparkContext.defaultParallelism
    // one cheap count action decides the strategy; persisted so the
    // decision scan is not paid again by the join
    val rt = rt0.persist()
    val joined =
      if (rt.count() <= broadcastThresholdRows) {
        val lt = lt0.repartition(par, col("id"))
        lt.join(broadcast(rt), Seq("key"))
      } else {
        val (l, r) = Blocker.dropHotKeys(lt0, rt, "key", maxBlockComparisons)
        l.join(r, Seq("key"))
      }
    // overlap-filtered pair table is output-sized: materialize it and
    // release the decision-scan cache (CacheScope contract).
    // sealOutput=false is the SPEC hook: a lazy plan so the join
    // strategy stays inspectable (rt then stays cached for the session;
    // every src/main caller seals).
    val out = joined.groupBy(col("id"), col("rid"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
    if (sealOutput) graft.core.CacheScope.seal(out, rt) else out
  }

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks = {
    val tb = TokenBlocker(minTokenLength, stopwords, tokenizer = tokenizer)
    val lt = tb.tokens(left)
    val rt = tb.tokens(right).withColumnRenamed("id", "rid")
    val pairs = overlapPairs(lt, rt)
    Blocks.fromNN(
      pairs.groupBy("id").agg(array_sort(collect_set(col("rid"))).as("rids")),
      "id", "rids")
  }
}

/** Unique-name blocking (token_blocking.py:168-204): attribute values held
  * by exactly one entity per side join into singleton blocks — the cheap,
  * high-precision first pass of the composite blockers.
  */
final case class UniqueNameBlocker() extends Blocker {

  /** Values appearing for exactly 1 entity: (value, id). */
  private[graft] def uniqueValues(f: EntityFrame): DataFrame = {
    val valued =
      if (f.isTriple) {
        val Array(h, _, t) = f.df.columns
        f.df.select(col(h).cast("string").as("id"), col(t).cast("string").as("v"))
      } else {
        val parts = f.nonIdColumns.map(c =>
          struct(lit(c).as("k"), col(c).cast("string").as("v")))
        f.df.select(col(f.idCol).cast("string").as("id"),
            explode(array(parts: _*)).as("kv"))
          .select(col("id"), col("kv.v").as("v"))
      }
    valued.na.drop(Seq("v"))
      .groupBy("v").agg(countDistinct("id").as("n"), min("id").as("id"))
      .filter(col("n") === 1)
      .select(col("v"), col("id"))
  }

  override def assign(
      left: EntityFrame, right: EntityFrame,
      leftRel: Option[DataFrame], rightRel: Option[DataFrame]): Blocks = {
    val l = uniqueValues(left).withColumnRenamed("id", "lid")
    val r = uniqueValues(right).withColumnRenamed("id", "rid")
    Blocks(l.join(r, Seq("v"), "inner").select(
      col("v").as(Blocks.KeyCol),
      array(col("lid")).as(Blocks.LeftCol),
      array(col("rid")).as(Blocks.RightCol)))
  }
}
