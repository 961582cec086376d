package graft

/** Dev tool: print the formatted physical plan of one or more registered
  * queries (all when no names given). Usage:
  *   sbt 'runMain graft.Explain tb_token_blocker j1_standard_blocker'
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session("graft-explain", "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4", "spark.ui.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
