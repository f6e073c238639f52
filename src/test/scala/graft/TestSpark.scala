package graft

import graft.api.Graft
import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM forked by sbt). */
object TestSpark {
  val conf: Map[String, String] = Graft.EngineConf ++ Map(
    "spark.master" -> "local[2]",
    "spark.app.name" -> "graft-tests",
    "spark.sql.shuffle.partitions" -> "2",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)

  lazy val spark: SparkSession = SparkSession.builder().config(conf).getOrCreate()
}
