package graft
import org.apache.spark.sql.SparkSession

/** Batch plan dump: `runMain graft.ExplainAll <outDir> <suffix> <q1,q2,...>`
  * writes `<outDir>/<queryName>_<suffix>.txt` with the formatted
  * physical plan of every named query (substring match on the qNN
  * prefix, like SPARK_GRAFT_ONLY) — one JVM for the whole list, so
  * capturing before/after plan evidence for an optimization round is
  * one command per side instead of one sbt launch per query.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, list) = args.take(3)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val pats = list.split(",").toSeq
    val spark = SparkSession.builder().config(Explain.sessionConf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (q <- SparkEntry.allQueries if pats.exists(p =>
        q.name == p || q.name.startsWith(p + "_"))) {
      try {
        // uncached plan per query (the PlanShapeSpec discipline): an
        // earlier query's persisted subtree would otherwise print as
        // an opaque InMemoryRelation inside the next plan
        spark.catalog.clearCache()
        val df = q.fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // formatted mode re-inlines cached subtrees per reference —
        // iterative plans blow past 10 MB; the evidence (operator
        // tree, join strategies, exchange count) is all in the head
        val capped =
          if (txt.length <= 400000) txt
          else txt.take(400000) +
            s"\n... [truncated: full formatted plan was ${txt.length} chars]\n"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q.name}_$suffix.txt"), capped)
        println(s"[explainall] wrote ${q.name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[explainall] ${q.name} failed: ${e.getMessage}")
      } finally {
        spark.experimental.extraOptimizations = Nil
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
