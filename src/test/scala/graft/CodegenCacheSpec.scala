package graft

import graft.api.Graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-code cache is JVM-global and sized by the first
  * session that generates code, so the bound in [[Graft.EngineConf]]
  * only holds if every builder carries it.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("every session builder applies the shared engine config") {
    val missing = "/nonexistent-sf-dir"
    // ExplainAll and PlanAudit build from Explain.sessionConf
    val confs = Map(
      "Graft.sparkSession" -> Graft.sessionConf(),
      "TestSpark" -> TestSpark.conf,
      "Bench" -> Bench.sessionConf(missing, "2"),
      "Verify" -> Verify.sessionConf(missing, "2"),
      "Explain" -> Explain.sessionConf)
    for ((name, conf) <- confs; (k, v) <- Graft.EngineConf)
      assert(conf.get(k).contains(v), s"$name: $k")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
  }

  test("a query run again after more than 100 other generated classes compiles nothing") {
    val base = spark.range(0, 2000).toDF("id")
    val probe = () => base.select((col("id") * 7 + 3).as("x"))
      .filter(col("x") % 5 === 1).agg(sum("x"), max("x")).collect()
    // the codegen fields read JVM-wide counters, so it needs no registration
    val diag = new TaskMetricsListener
    val d0 = diag.snapshot
    probe()
    assert((diag.snapshot - d0).codegenCompiles > 0)
    // each inlined literal makes its own whole-stage class
    val c0 = compiles
    (1 to 150).foreach { i =>
      base.select((col("id") * lit(i + 1000)).as("y")).filter(col("y") > i).collect()
    }
    assert(compiles - c0 > 100)
    val c1 = compiles
    val d1 = diag.snapshot
    probe()
    assert(compiles == c1)
    assert((diag.snapshot - d1).codegenCompiles == 0)
  }
}
