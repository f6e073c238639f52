package graft
import graft.api.Graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def sessionConf(sfDir: String, cpus: String): Map[String, String] =
    Graft.EngineConf ++ Map(
      "spark.master" -> s"local[$cpus]",
      // same scale-adaptive parallelism as the bench (Bench scaladoc):
      // partition count follows input bytes, not the core constant
      "spark.sql.shuffle.partitions" -> Bench.derivePartitions(sfDir, cpus),
      "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().config(sessionConf(sfDir, cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local iteration aid (driver sets no env): SPARK_GRAFT_ONLY=q128,q129
    // restricts both the dump and the emitted oracle map to a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean =
      only.forall(_.exists(p => name == p || name.startsWith(p + "_")))
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      // owner-scoped cache lifecycle: builders register persists with
      // the scope, which releases them right after the write action
      try CacheScope.run(spark.sparkContext) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // belt-and-braces below the scope
      // RDD-level blocks (localCheckpoints) outlive clearCache
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect() // memory-sink temp views too
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.experimental.extraOptimizations = Nil // scope rules per query
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] codegen: ${BenchDiag.codegenCompiles} classes compiled in " +
      s"${BenchDiag.codegenCompileMs} ms; metaspace ${BenchDiag.metaspaceMb} MB")
    spark.stop()
  }
}
