package graft
import graft.api.Graft
import org.apache.spark.sql.SparkSession

/** Plan inspection: `runMain graft.Explain <queryName> [sfDir]`
  * prints the formatted physical plan (and with arg `opt` the
  * optimized logical plan) — the iterate-on-the-plan loop the scale
  * work depends on.
  */
object Explain {
  /** Session config of the plan-inspection tools (Explain, ExplainAll,
    * PlanAudit): the engine map at a fixed small local parallelism.
    */
  val sessionConf: Map[String, String] = Graft.EngineConf ++ Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = SparkSession.builder().config(sessionConf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode == "opt") println(df.queryExecution.optimizedPlan.treeString)
    else df.explain(mode)
    spark.stop()
  }
}
