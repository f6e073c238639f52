package graft

import org.apache.spark.sql.SparkSession

/** TEMPORARY in-JVM interleaved A/B for the Tables.spread change:
  * alternates -Dgraft.spread on/off per trial inside ONE JVM so
  * host-level CPU-contention windows hit both arms equally
  * (BENCH_NOTES.md: cross-JVM sweeps in this sandbox carry 5-60x
  * phantoms, taskCpu included). Usage:
  * runMain graft.AbSpread q204,q100 /root/testdata/sf0.1 3
  */
object AbSpread {
  def main(args: Array[String]): Unit = {
    val pats = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val trials = if (args.length > 2) args(2).toInt else 3
    val prop = if (args.length > 3) args(3) else "graft.spread"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config(Bench.sessionConf(sfDir, cpus) + ("spark.sql.adaptive.enabled" -> "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val qs = SparkEntry.allQueries.filter(q => pats.exists(q.name.contains))
    val acc = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    for (t <- 1 to trials; q <- qs; mode <- Seq("on", "off")) {
      System.setProperty(prop, mode)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      acc((q.name, mode)) = dt :: acc((q.name, mode))
      println(f"[ab] trial $t ${q.name}%-30s $mode%-3s $dt%7.2f s")
    }
    println("[ab] ===== medians =====")
    qs.foreach { q =>
      def med(m: String) = {
        val xs = acc((q.name, m)).sorted
        xs(xs.size / 2)
      }
      println(f"[ab] ${q.name}%-30s on=${med("on")}%7.2f off=${med("off")}%7.2f  ratio=${med("on") / med("off")}%5.2f")
    }
    spark.stop()
  }
}
