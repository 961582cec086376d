package graft

/** Registry-wide empty-corpus sweep (VERDICT r11 item 6): every
  * registered driver query is executed against a testdata clone whose
  * tables all have ZERO rows — the degenerate state a real pipeline hits
  * constantly (an empty date partition, a filter matching nothing, a
  * fresh tenant). The round-11 `heavyHitters` crash (NULL aggregate →
  * `getLong` throw) is exactly the bug class this covers wholesale:
  * driver-side scalars read off empty aggregates.
  *
  * Contract per query: return a (possibly empty) result without
  * throwing, UNLESS the operator's documented contract on missing data
  * is a loud failure (each such query is allow-listed below with its
  * reason, and the test also fails if an allow-listed query STOPS
  * failing — the list cannot rot into a blanket waiver).
  */
class RegistryEmptyInputSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** sf0.001 schemas with zero rows, written once per JVM. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_sf").toString
    tables.foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(0).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Queries whose empty-corpus contract is a loud failure, with why. */
  private val expectFailure: Map[String, String] = Map(
    "m11_kmeans_blocker" -> "MLlib KMeans.fit requires a non-empty corpus",
    "mh_mllib_minhash_blocker" -> "MLlib MinHashLSH.fit requires a non-empty corpus",
    "tx_quality_classifier" -> "MLlib LogisticRegression.fit requires a non-empty labeled set",
    "s3_cluster_gold" -> "cluster-gold loads fail loudly when no member carries the requested dataset prefixes (BlockingDataset.goldFromClusterFile's empty-gold guard — the r11 verdict's required behavior)")

  test("every registry query handles an empty corpus per its contract") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val outcome =
        try {
          if (expectFailure.contains(name)) expectingTaskFailure(fn(spark, emptyDir).collect())
          else fn(spark, emptyDir).collect()
          None
        }
        catch { case e: Throwable => Some(e) }
      (outcome, expectFailure.get(name)) match {
        case (None, None) => // returned rows (possibly zero) — good
        case (Some(_), Some(_)) => // documented loud failure — good
        case (Some(e), None) =>
          failures += s"$name threw ${e.getClass.getSimpleName}: " +
            e.getMessage.linesIterator.take(1).mkString.take(160)
        case (None, Some(why)) =>
          failures += s"$name succeeded but is allow-listed as failing ($why) — drop it from the list"
      }
    }
    assert(failures.isEmpty, "\n" + failures.mkString("\n"))
  }
}
