package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{CacheScope, QueryDef, SparkEntry}
import graft.api.Graft
import graft.engine.{Annotation, FilterSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** One workload: the untimed priming pass that ends set-up, the
  * timed pass the harness repeats, and the output check. Every call
  * into the program is wrapped in a span of kind "op" (see
  * [[Workload.op]]).
  */
abstract class Workload(val fixtures: String, val work: String) {
  protected val mapper = new ObjectMapper()
  protected def readJson(name: String): JsonNode =
    mapper.readTree(Files.readString(Paths.get(fixtures, name)))
  protected def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def pass(spark: SparkSession, tr: Tracer): Unit
  /** The untimed pass that ends set-up; it pays class loading, JIT and
    * codegen warm-up, and its outputs are the ones the registry checks.
    */
  def prime(spark: SparkSession, tr: Tracer): Unit = pass(spark, tr)
  /** Runs after the timed passes, untimed: collects what `run.py`
    * compares with the generator's expectations.
    */
  def check(spark: SparkSession): Map[String, Any]

  /** Times `body` as one op; a throw marks the op failed and is kept. */
  protected def op[A](tr: Tracer, name: String)(body: tr.Span => A): Option[A] = {
    val s = tr.open("op", name)
    try {
      val r = body(s)
      s.attrs("ok") = true
      Some(r)
    } catch {
      case e: Throwable =>
        s.attrs("ok") = false
        s.attrs("error") = String.valueOf(e.getMessage).take(300)
        System.err.println(s"[graftbench] $name failed: ${e.getMessage}")
        None
    } finally tr.close(s)
  }
}

/** `registry-sweep`: every listed registry query through the noop sink
  * inside `CacheScope.run`, with the cleanup `graft.Verify` does.
  */
final class RegistrySweep(fixtures: String, work: String) extends Workload(fixtures, work) {
  private val sf = s"$fixtures/sf"
  private val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val order: Seq[QueryDef] =
    Files.readAllLines(Paths.get(fixtures, "queries.txt")).asScala.filter(_.nonEmpty).toSeq
      .map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))

  /** The operator module that declares a query (its builder's owner). */
  private def family(q: QueryDef): String =
    q.fn.getClass.getName.split('$').head.split('.').last

  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    spark.experimental.extraOptimizations = Nil
  }

  private def runQuery(spark: SparkSession, tr: Tracer, q: QueryDef)(sink: DataFrame => Unit): Unit = {
    op(tr, q.name) { s =>
      s.attrs("family") = family(q)
      try CacheScope.run(spark.sparkContext) {
        val df = tr.span("build", q.name)(_ => q.fn(spark, sf))
        tr.span("action", q.name)(_ => sink(df))
      } finally {
        val d = CacheScope.lastSweep
        s.attrs("swept") = d.sweptCheckpoints
        s.attrs("untracked") = d.leftUntracked
      }
    }
    cleanup(spark)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private val verifyDir = s"$work/verify"

  /** The verification pass: each result written as Parquet for the
    * DuckDB oracle comparison (`scripts/check.py`).
    */
  override def prime(spark: SparkSession, tr: Tracer): Unit = {
    order.foreach(q => runQuery(spark, tr, q)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${q.name}")))
    val oracles = order.flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(Paths.get(verifyDir, "oracle_sql.json"), mapper.writeValueAsString(oracles.asJava))
  }

  def check(spark: SparkSession): Map[String, Any] =
    Map("verify_dir" -> verifyDir, "oracles" -> order.count(_.oracle.isDefined))

  def pass(spark: SparkSession, tr: Tracer): Unit =
    order.foreach(q => runQuery(spark, tr, q)(noop))
}

/** `trial-session`: load, Savitzky-Golay, 12 scripted edits each
  * followed by a viewport render, then both saves.
  */
final class TrialSession(fixtures: String, work: String) extends Workload(fixtures, work) {
  private val script = readJson("session.json")
  private val csv = s"$fixtures/trial.csv"
  private val savgol = strings(script.get("savgol"))
  private val render = strings(script.get("render"))
  private val edits = script.get("edits").elements().asScala.toSeq
  private val timeCol = "normalized_time"

  private def view(sess: graft.engine.Session, w: JsonNode): Int =
    sess.state.df
      .filter(col(timeCol).between(w.get(0).asDouble(), w.get(1).asDouble()))
      .select((timeCol +: render :+ "is_bad_segment").map(c => col(s"`$c`")): _*)
      .collect().length

  /** One scripted session; returns the session and its trial. */
  private def session(spark: SparkSession, tr: Tracer) = {
    val loaded = op(tr, "load")(_ => Graft.loadTrial(spark, csv))
    loaded.map { trial =>
      val sess = Graft.openSession(trial)
      op(tr, "savgol") { s =>
        sess.applyDataFrame(Graft.applyFilter(spark, trial, savgol, FilterSpec.Savgol(11, 2)),
          "filter:savgol")
        s.attrs("rows") = view(sess, edits.head.get("window"))
      }
      edits.zipWithIndex.foreach { case (e, i) =>
        op(tr, s"edit:${e.get("op").asText()}") { s =>
          s.attrs("depth") = i + 1
          val t0 = tr.now()
          def a = e.get("start").asDouble()
          def b = e.get("end").asDouble()
          e.get("op").asText() match {
            case "delete" => sess.deleteSegment(a, b)
            case "mark_bad" => sess.markBad(a, b)
            case "annotate" => sess.annotate(Annotation(a, b, e.get("label").asText(), track = "bench"))
            case "undo" => require(sess.undo(), "nothing to undo")
            case "redo" => require(sess.redo(), "nothing to redo")
          }
          s.attrs("call_ms") = tr.now() - t0
          s.attrs("rows") = view(sess, e.get("window"))
          s.attrs("expect_rows") = e.get("expect_rows").asInt()
        }
      }
      op(tr, "save") { _ =>
        Graft.saveClean(sess.state.df, s"$work/clean")
        Graft.saveAnnotations(s"$work/annotations.json", sess, trial.sampleRate)
      }
      (trial, sess)
    }
  }

  private var last: Option[(Graft.Trial, graft.engine.Session)] = None

  def pass(spark: SparkSession, tr: Tracer): Unit = last = session(spark, tr)

  def check(spark: SparkSession): Map[String, Any] =
    last.map { case (trial, sess) =>
      val st = sess.state
      val back = Graft.loadAnnotations(s"$work/annotations.json", st.df)
      val cleanCsv = Files.list(Paths.get(s"$work/clean")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".csv")).toSeq
      Map("clean_csv" -> cleanCsv, "sample_rate" -> trial.sampleRate,
        "annotations" -> st.annotations.size, "deletions" -> st.deletions.size,
        "roundtrip" -> (back.annotations == st.annotations && back.deletions == st.deletions &&
          back.history.map(h => (h.description, h.params)) == st.history.map(h => (h.description, h.params))))
    }.getOrElse(Map("failed" -> "session did not load"))
}
