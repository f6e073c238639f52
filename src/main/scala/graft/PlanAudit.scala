package graft

import org.apache.spark.sql.SparkSession

/** Whole-suite plan audit: one line per declared query with the
  * scale-relevant physical-plan facts — shuffle (Exchange) count,
  * nested-loop / cartesian joins, window operators, and whether the
  * parquet scans carry pushed filters. The red-flag scan the 100 TB
  * review loop runs after every operator change:
  * `runMain graft.PlanAudit [sfDir]`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().config(Explain.sessionConf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allQueries.sortBy(_.name).foreach { q =>
      try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(s: String) = s.r.findAllIn(plan).size
        val flags = Seq(
          if (n("BroadcastNestedLoopJoin") > 0) s"BNLJ=${n("BroadcastNestedLoopJoin")}" else "",
          if (n("CartesianProduct") > 0) s"CARTESIAN=${n("CartesianProduct")}" else "",
          if (plan.contains("PushedFilters: \\[\\]") || !plan.contains("PushedFilters"))
            "" else "pushdown",
          s"exchanges=${n("Exchange")}",
          s"windows=${n("Window")}",
          s"broadcasts=${n("BroadcastExchange")}"
        ).filter(_.nonEmpty)
        println(s"AUDIT ${q.name}: ${flags.mkString(" ")}")
      } catch {
        case e: Exception => println(s"AUDIT ${q.name}: ERROR ${e.getMessage}")
      }
      spark.catalog.clearCache()
      // q123/q124 install per-query optimizer rules — scope them like
      // Verify/Bench do, so later audit lines reflect the default path
      spark.experimental.extraOptimizations = Nil
    }
    spark.stop()
  }
}
