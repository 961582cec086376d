package graft

/** Dev tool: sweep every registered query's physical plan for scale
  * anti-patterns — operators that are O(n²) or single-node at 100 TB:
  *
  *   - `CartesianProduct` (unbounded pair blowup);
  *   - `BroadcastNestedLoopJoin` (per-row scan of a broadcast side —
  *     fine only when that side is provably tiny);
  *   - single-partition `Exchange SinglePartition` outside a final
  *     global aggregate/sort is NOT flagged here: top-level one-row
  *     results legitimately end there.
  *
  * Queries whose DESIGN is a documented exact baseline (brute-force
  * cosine top-k, small-side crossJoin re-ranks) are allow-listed with
  * the reason on their record (`QueryDef.auditAllow`). An allow-listed
  * query whose audited plan shows no flagged operator prints `UNSEEN`:
  * its O(n·m) step sits behind an eager checkpoint the plan does not
  * show, so the audit gates nothing there. Exits non-zero when an
  * unexpected pattern shows, so the audit can gate a round. Usage:
  *   sbt 'runMain graft.PlanAudit'           # all queries
  *   sbt 'runMain graft.PlanAudit ann_brute_topk'
  */
object PlanAudit {

  private val patterns = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.registry.keys.toSeq.sorted
    var unexpected = 0
    var unseen = 0
    names.foreach { n =>
      val plan =
        try SparkEntry.registry(n).fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLAN-FAILED: ${e.getMessage}" }
      val hits = patterns.filter(plan.contains)
      val allow = SparkEntry.registry.get(n).flatMap(_.auditAllow)
      if (hits.nonEmpty || plan.startsWith("PLAN-FAILED")) {
        allow match {
          case Some(reason) => println(f"ALLOW $n%-28s ${hits.mkString(",")} — $reason")
          case None =>
            unexpected += 1
            println(f"FLAG  $n%-28s ${hits.mkString(",")}${if (plan.startsWith("PLAN-FAILED")) " " + plan.linesIterator.next() else ""}")
        }
      } else allow.foreach { reason =>
        unseen += 1
        println(f"UNSEEN $n%-28s — $reason")
      }
    }
    println(s"\n${names.size} plans audited, $unexpected unexpected, $unseen allow-listed but unseen")
    spark.stop()
    if (unexpected > 0) sys.exit(1)
  }
}
