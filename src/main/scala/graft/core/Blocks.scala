package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The blocks table: one row per block, two array-of-entity-id cells.
  *
  * Canonical internal schema `(block_key: string, left: array<string>,
  * right: array<string>)`; dataset-named columns (the reference's layout,
  * src/klinker/data/blocks.py:36-47) only at the parquet boundary via
  * [[Blocks.write]]/[[Blocks.read]].
  *
  * Scale notes (100 TB design):
  *   - `pairs` re-expresses the reference's driver-side generators
  *     (blocks.py:86-139, eval.py:201-215) as a distributed double
  *     explode — nothing is ever collected.
  *   - giant blocks are the scale hazard (hot tokens): cap them *before*
  *     any `collect_set` materializes an array via
  *     [[graft.blockers.TokenBlocker]]'s `maxBlockComparisons`, or after
  *     the fact with [[purge]].
  */
final case class Blocks(df: DataFrame) {
  import Blocks._

  /** Candidate pairs as a distributed stream `(left_id, right_id)` —
    * NOT distinct (blocks may overlap; eval dedups). The enumeration is
    * quadratic in block size BY DEFINITION (it lists the comparisons),
    * so what matters at scale is that the blowup must not land in ONE
    * task: a chained double explode runs entirely in the task holding
    * the block's row, which AQE cannot split (measured in the ×100
    * joined_eval rehearsal — a 1.9 GB single-task shuffle write from a
    * 3-value standard blocker's mega-blocks). Instead both member
    * arrays are sliced into [[Blocks.PairChunk]]-sized pieces first — a
    * block row becomes ceil(|L|/c)·ceil(|R|/c) LIGHT rows (two short
    * arrays each), those spread round-robin across the cluster, and
    * only then does the double explode run: ≤ c² pairs per chunk row,
    * max-task output bounded by the chunk size instead of the block
    * size. Small blocks cost one extra exchange of block-count-sized
    * rows. Operations that can avoid full pair enumeration entirely
    * should (see [[graft.eval.Evaluation.truePositivePairs]], which
    * joins two single-explode streams through the block key). */
  def pairs: DataFrame = {
    val c = PairChunk
    def chunks(arr: String) =
      s"transform(sequence(0, (size($arr)-1) div $c), i -> slice($arr, i*$c+1, $c))"
    df.filter(size(col(LeftCol)) > 0 && size(col(RightCol)) > 0)
      .select(explode(expr(chunks(LeftCol))).as("_lc"), col(RightCol))
      .select(col("_lc"), explode(expr(chunks(RightCol))).as("_rc"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("_lc")).as("left_id"), col("_rc"))
      .select(col("left_id"), explode(col("_rc")).as("right_id"))
  }

  /** Distinct candidate pairs (eval.py:87 `drop_duplicates`). */
  def distinctPairs: DataFrame = pairs.distinct()

  /** Per-block statistics (blocks.py:141-170): sizes, assignments
    * (row-sum of sizes), comparisons (product of sizes). */
  def statistics: DataFrame =
    df.select(
      col(KeyCol),
      size(col(LeftCol)).as("left_size"),
      size(col(RightCol)).as("right_size"),
      (size(col(LeftCol)) + size(col(RightCol))).as("assignments"),
      (size(col(LeftCol)).cast("long") * size(col(RightCol))).as("comparisons"))

  /** Total candidate comparisons — the blocking-cost scalar. */
  def totalComparisons: Long =
    statistics.agg(sum("comparisons")).head.getLong(0)

  /** Drop blocks whose comparison count exceeds the CC-plateau threshold
    * (reference `purge`, blocks.py:172-244): blocks sorted by individual
    * cardinality; running cc = cum(assignments)/cum(comparisons); the
    * first row whose rounded cc duplicates ANY earlier cc (pandas
    * `duplicated(keep="first")`, blocks.py:228-231 — not merely the
    * adjacent predecessor) marks the plateau; its cumulative cardinality
    * is the threshold.
    *
    * Scale: the cumulative sums are a two-phase cumsum — range-partition
    * by cardinality, per-partition running totals under a pid-partitioned
    * window, driver-side prefix sum over the ≤ #shuffle-partitions
    * per-partition totals (bounded by config, not data — the
    * RDD.zipWithIndex trick), offsets broadcast back. No unpartitioned
    * window anywhere, so the plan survives billions of blocks, vs the
    * reference's driver-side `.compute()`. */
  def purge(roundCc: Int = 2): Blocks = {
    val st = statistics
      .withColumn("card", col("comparisons"))
    // keep one row per distinct cardinality (blocks.py:226 dedup; the
    // reference keeps frame-order-first — we pin min block_key for
    // determinism, a documented divergence)
    val byCard = st
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("card")).orderBy(col(KeyCol))))
      .filter(col("rn") === 1).drop("rn")
    // phase 1: per-range-partition running totals (cards are distinct, so
    // the range sort order is total and deterministic)
    val parts = byCard.repartitionByRange(col("card"))
      .withColumn("pid", spark_partition_id())
    val wIn = Window.partitionBy(col("pid")).orderBy(col("card"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = parts
      .withColumn("l_card", sum(col("card")).over(wIn))
      .withColumn("l_asg", sum(col("assignments")).over(wIn))
    try {
      // persist: `local` feeds two actions (offset collect + threshold scan),
      // and pid assignments must be IDENTICAL in both — AQE may re-plan the
      // range exchange between recomputations otherwise
      local.persist()
      // phase 2: prefix offsets per partition. The per-partition aggregate is
      // ≤ #shuffle-partitions rows — bounded by config, not data — so the
      // prefix sum runs on the driver (the same trick RDD.zipWithIndex uses)
      // and the offsets go back as a broadcast join. No unpartitioned window
      // anywhere in the plan.
      val perPart = local.groupBy(col("pid"))
        .agg(max(col("l_card")).as("p_card"), max(col("l_asg")).as("p_asg"))
        .collect().sortBy(_.getInt(0))
      val offRows = {
        var c = 0L; var a = 0L
        perPart.map { r =>
          val row = (r.getInt(0), c, a)
          c += r.getLong(1); a += r.getLong(2)
          row
        }.toSeq
      }
      val spark = df.sparkSession
      import spark.implicits._
      val offsets = offRows.toDF("pid", "off_card", "off_asg")
      val cum = local.join(broadcast(offsets), Seq("pid"))
        .withColumn("i_card", col("l_card") + col("off_card"))
        // deliberately functions.round (BigDecimal HALF_UP), NOT
        // Num.stableRound: the 2-decimal cc plateau rule mirrors pandas
        // round-half-up semantics (reference blocks.py duplicated(keep=
        // "first")), property-tested against a HALF_UP driver reference —
        // the oracle SQL rounds the same way on both sides of w3_purge
        .withColumn("cc", round(
          (col("l_asg") + col("off_asg")).cast("double") / (col("l_card") + col("off_card")),
          roundCc))
        .persist()
      try {
        cum.count() // materialize before dropping the upstream cache
        // duplicated(keep="first"): flagged iff an earlier (smaller-card) row
        // carries the same rounded cc; threshold = smallest flagged i_card
        val flagged = cum
          .withColumn("first_card", min(col("card")).over(Window.partitionBy(col("cc"))))
          .filter(col("card") > col("first_card"))
        val thrRow = flagged.agg(min(col("i_card"))).head()
        val maxRow = cum.agg(max(col("i_card"))).head()
        val threshold: Long =
          if (!thrRow.isNullAt(0)) thrRow.getLong(0)
          // no flagged row → keep everything; empty input → max is NULL,
          // any threshold works (nothing to filter)
          else if (!maxRow.isNullAt(0)) maxRow.getLong(0)
          else 0L
        Blocks(df.filter(size(col(LeftCol)).cast("long") * size(col(RightCol)) <= threshold))
      } finally CacheScope.release(cum)
    } finally CacheScope.release(local)
  }

  /** Drop blocks with more than `maxComparisons` candidate pairs —
    * the pragmatic 100 TB guard against hot-key blocks. */
  def cap(maxComparisons: Long): Blocks =
    Blocks(df.filter(size(col(LeftCol)).cast("long") * size(col(RightCol)) <= maxComparisons))

  /** Combine with another blocks table (blocks.py:246-317): full-outer
    * join on key; overlapping blocks union their id lists. */
  def combine(other: Blocks): Blocks = {
    val a = df.select(col(KeyCol), col(LeftCol).as("_la"), col(RightCol).as("_ra"))
    val b = other.df.select(col(KeyCol), col(LeftCol).as("_lb"), col(RightCol).as("_rb"))
    val merged = a.join(b, Seq(KeyCol), "full_outer").select(
      col(KeyCol),
      array_sort(array_distinct(concat(
        coalesce(col("_la"), array()), coalesce(col("_lb"), array())))).as(LeftCol),
      array_sort(array_distinct(concat(
        coalesce(col("_ra"), array()), coalesce(col("_rb"), array())))).as(RightCol))
    Blocks(merged)
  }

  /** Union block tables (key collisions allowed — duplicate candidate
    * pairs are tolerated downstream; relation_aware.py:631). */
  def unionAll(other: Blocks): Blocks = Blocks(df.unionByName(other.df))

  /** Parquet sink with dataset-named columns (blocks.py:319-343). */
  def write(path: String, leftName: String, rightName: String): Unit =
    df.withColumnRenamed(LeftCol, leftName)
      .withColumnRenamed(RightCol, rightName)
      .write.mode("overwrite").parquet(path)

  /** Bucketed parquet sink: a path-backed table bucketed (and sorted)
    * on `block_key`. Downstream joins between tables bucketed with the
    * same bucket count — combine, eval-vs-gold, cross-job block reuse —
    * read co-located and need NO exchange (and no sort for sort-merge),
    * which at 100 TB turns every repeated block-key join from a full
    * shuffle into a local zip. Spark bucketing requires the table
    * catalog, hence a table name + explicit path rather than a bare
    * parquet dir ([[write]] stays the plain interchange sink). */
  def writeBucketed(
      spark: SparkSession, table: String, path: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, Blocks.KeyCol)
      .sortBy(Blocks.KeyCol)
      .format("parquet")
      .saveAsTable(table)

  /** NN-layout parquet sink (NNBasedKlinkerBlockManager.to_parquet,
    * blocks.py:484-486 + combine's string column names :519-528): one row
    * per left entity — id column, then k scalar neighbor columns named
    * "0".."k-1", null-padded. Requires NN-shaped blocks (key = left id,
    * left = [left id]). The width scalar is one tiny aggregate. */
  def writeNN(path: String): Unit = {
    val kRow = df.agg(max(size(col(RightCol)))).head
    val k = if (kRow.isNullAt(0)) 0 else kRow.getInt(0)
    // get() is null-on-out-of-bounds (element_at throws under ANSI)
    val cols = (0 until k).map(i => get(col(RightCol), lit(i)).as(s"$i"))
    df.select(col(KeyCol).as("id") +: cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Composite sink (CompositeWithNNBasedKlinkerBlockManager.to_parquet,
    * blocks.py:608-613): normal part under `blocks/`, NN part under the
    * `nn_blocks/` sibling dir that [[Blocks.read]] dispatches on. */
  def writeComposite(path: String, nn: Blocks,
      leftName: String = Blocks.LeftCol, rightName: String = Blocks.RightCol): Unit = {
    write(s"$path/blocks", leftName, rightName)
    nn.writeNN(s"$path/nn_blocks")
  }
}

object Blocks {
  val KeyCol = "block_key"
  val LeftCol = "left"
  val RightCol = "right"

  /** Member-array slice size for [[Blocks.pairs]]' spread enumeration:
    * caps a chunk row's explosion at PairChunk² pairs (~1M at 1024) —
    * large enough that real blocks stay one chunk, small enough that a
    * mega-block's enumeration shards across the cluster. */
  val PairChunk = 1024

  /** Parquet source with the reference's layout dispatch (blocks.py:345-381
    * read_parquet + :614-636 CompositeWithNN.read_parquet):
    *   - a `nn_blocks/` child dir → composite: read `blocks/` + `nn_blocks/`
    *     and union them (≡ the reference's chained all_pairs);
    *   - more than two non-key columns, or a scalar (non-array) second
    *     column → NN layout (the reference probes the first CELL because
    *     pandas loses the dtype; the parquet schema says it directly);
    *   - otherwise the normal 3-column layout.
    */
  def read(spark: SparkSession, path: String): Blocks = {
    import org.apache.hadoop.fs.Path
    val nnPath = new Path(path, "nn_blocks")
    val fs = nnPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(nnPath))
      read(spark, new Path(path, "blocks").toString)
        .unionAll(read(spark, nnPath.toString))
    else {
      val raw = spark.read.parquet(path)
      // != 3 (not just > 3): an NN table written from an EMPTY blocking
      // has k = 0 neighbor columns — only "id" survives on disk, and
      // probing columns(1) on it would throw before the sniff decides
      val isNN = raw.columns.length != 3 ||
        !raw.schema(raw.columns(1)).dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      if (isNN) fromNNLayout(raw)
      else {
        val Array(k, l, r) = raw.columns.take(3)
        Blocks(raw.select(col(k).as(KeyCol),
          col(l).cast("array<string>").as(LeftCol),
          col(r).cast("array<string>").as(RightCol)))
      }
    }
  }

  /** Source for [[Blocks.writeBucketed]] tables: resolves through the
    * catalog so the scan carries the bucket spec — a later join on
    * `block_key` against an equally-bucketed table plans with no
    * Exchange and no Sort. */
  def readBucketed(spark: SparkSession, table: String): Blocks =
    Blocks(spark.table(table))

  /** (id, n0..n{k-1} scalar neighbor columns) → normalized blocks. */
  private def fromNNLayout(raw: DataFrame): Blocks = {
    val id = raw.columns.head
    val neighbors = raw.columns.tail.map(c => col(c).cast("string"))
    // zero neighbor columns (empty blocking round-trip): typed empty
    // array — a bare array() would infer array<null>
    val right =
      if (neighbors.isEmpty) array().cast("array<string>")
      else filter(array(neighbors: _*), _.isNotNull)
    Blocks(raw.select(
      col(id).cast("string").as(KeyCol),
      array(col(id).cast("string")).as(LeftCol),
      right.as(RightCol)))
  }

  /** NN-blocks layout (blocks.py:466-557) normalized to one row per left
    * entity with its neighbor array. */
  def fromNN(nn: DataFrame, leftIdCol: String, rightIdsCol: String): Blocks =
    Blocks(nn.select(
      col(leftIdCol).cast("string").as(KeyCol),
      array(col(leftIdCol).cast("string")).as(LeftCol),
      col(rightIdsCol).as(RightCol)))
}
