package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Harness.session("graft-verify", "spark.ui.enabled" -> "false")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.exists(!_.contains(name))) ()
      else {
      System.err.println(s"[verify] >>> $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}"
    }.mkString("{", ",", "}")
    Harness.writeArtifact(s"$outDir/oracle_sql.json", json)
    spark.stop()
  }
}
