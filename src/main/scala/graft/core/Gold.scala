package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-standard helpers (reference src/klinker/data/ea_dataset.py:93-103:
  * a PrefixedClusterHelper's clusters expand to all inter-dataset pairs). */
object Gold {

  /** Expand clusters to all inter-dataset member pairs.
    *
    * @param members (cluster_id, entity_id, dataset) rows
    * @param leftName / rightName dataset names to pair up
    * @return (left_id, right_id) — every cross-dataset pair that shares
    *         a cluster. Self-join on cluster id; clusters are small, so
    *         the quadratic blowup is bounded per cluster.
    */
  def fromClusters(
      members: DataFrame,
      leftName: String, rightName: String): DataFrame = {
    val Array(c, e, d) = members.columns.take(3)
    val l = members.filter(col(d) === leftName)
      .select(col(c).as("_c"), col(e).cast("string").as("left_id"))
    val r = members.filter(col(d) === rightName)
      .select(col(c).as("_c"), col(e).cast("string").as("right_id"))
    l.join(r, Seq("_c")).select("left_id", "right_id").distinct()
  }

  /** Bucketed sink for gold pair tables (the [[Blocks.writeBucketed]]
    * treatment): bucketed + sorted on BOTH pair columns — a join keyed on
    * the full pair consumes the bucket spec only when the join keys match
    * the bucket keys exactly (subset co-partitioning is off by default).
    * Candidate-pair tables written with the same bucket count join with
    * no exchange and no sort: the path for gold standards too large to
    * broadcast. */
  def writeBucketed(
      pairs: DataFrame, table: String, path: String, buckets: Int): Unit = {
    val Array(l, r) = pairs.columns.take(2)
    pairs.select(col(l).cast("string").as("left_id"),
        col(r).cast("string").as("right_id"))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, "left_id", "right_id")
      .sortBy("left_id", "right_id")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Source for [[writeBucketed]] tables — resolves through the catalog
    * so the scan keeps the bucket spec. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}

/** S7: persist/restore entity embeddings as parquet — replaces the
  * reference's pickle pair files (blockers/embedding/blocker.py:162-239);
  * the cache key is just the directory path. */
object EmbeddingStore {
  def save(embeddings: DataFrame, path: String): Unit =
    embeddings.select(col("id").cast("string"), col("vec"))
      .write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
