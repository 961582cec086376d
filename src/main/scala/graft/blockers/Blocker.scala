package graft.blockers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Blocks, EntityFrame}

/** A blocker maps two entity frames (plus optional relation-triple frames)
  * to a blocks table — the reference's public operator surface
  * (src/klinker/blockers/base.py:22-88). Everything is a lazy DataFrame
  * combinator; materialization happens at the caller's action.
  */
trait Blocker {
  def assign(
      left: EntityFrame,
      right: EntityFrame,
      leftRel: Option[DataFrame] = None,
      rightRel: Option[DataFrame] = None): Blocks
}

object Blocker {
  /** The universal block finisher (SURVEY A1+J1): per side group ids by
    * key, then inner-join the sides on the key. Arrays are sorted for
    * deterministic output (reference compares cells set-wise).
    *
    * `keyed*` schema: (id: string-castable, key). At 100 TB the join is a
    * shuffle on `key`; AQE handles skewed keys, and hot keys should be
    * capped upstream (see TokenBlocker.maxBlockComparisons).
    */
  def blockJoin(keyedLeft: DataFrame, keyedRight: DataFrame): Blocks = {
    val l = keyedLeft.groupBy(col("key").as(Blocks.KeyCol))
      .agg(array_sort(collect_set(col("id").cast("string"))).as(Blocks.LeftCol))
    val r = keyedRight.groupBy(col("key").as(Blocks.KeyCol))
      .agg(array_sort(collect_set(col("id").cast("string"))).as(Blocks.RightCol))
    Blocks(l.join(r, Seq(Blocks.KeyCol), "inner"))
  }

  /** The cross-side hot-key cap: drop every `key` whose block would
    * hold more than `maxComparisons` candidate pairs (left rows × right
    * rows) from BOTH sides, before any per-key array or pair join
    * materializes it. One count aggregate per side feeds a left-anti
    * join; a cap ≤ 0 returns the inputs unchanged (no extra plan). */
  def dropHotKeys(l: DataFrame, r: DataFrame, key: String,
                  maxComparisons: Long): (DataFrame, DataFrame) =
    if (maxComparisons <= 0) (l, r)
    else {
      val hot = l.groupBy(key).agg(count(lit(1)).as("nl"))
        .join(r.groupBy(key).agg(count(lit(1)).as("nr")), Seq(key))
        .filter(col("nl") * col("nr") > maxComparisons)
        .select(key)
      (l.join(hot, Seq(key), "left_anti"), r.join(hot, Seq(key), "left_anti"))
    }

  /** P6 `filter_with_unique` (composite.py:35-51): drop entities whose id
    * appears in `ids` (one `_cid` column) — a left-anti join, never the
    * reference's merge-indicator emulation. */
  def antiFilter(f: EntityFrame, ids: DataFrame): EntityFrame =
    f.copy(df = f.df.join(
      ids, f.df(f.idCol).cast("string") === ids("_cid"), "left_anti"))

  /** Salted two-phase variant of the A1 aggregate for HOT keys:
    * collect_set first per (key, salt) — spreading one hot key's ids
    * over `nSalt` reducers — then flatten the per-salt arrays per key.
    * Same result as a direct collect_set; use when a single key's group
    * would overwhelm one reducer (the 100 TB token-skew mitigation that
    * complements capping). */
  def saltedCollectIds(keyed: DataFrame, outCol: String, nSalt: Int = 16): DataFrame =
    keyed
      .withColumn("_salt", pmod(hash(col("id")), lit(nSalt)))
      .groupBy(col("key"), col("_salt"))
      .agg(collect_set(col("id").cast("string")).as("_part"))
      .groupBy(col("key").as(Blocks.KeyCol))
      .agg(array_sort(array_distinct(flatten(collect_list(col("_part"))))).as(outCol))
}
