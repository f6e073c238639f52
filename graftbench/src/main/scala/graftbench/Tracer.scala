package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.graftbench.BusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark-owned spans and Spark counters, kept in memory and dumped
  * as JSON at exit; the statistics over them live in `stats.py`.
  *
  * Spans nest by call order on the single client thread. With tracing
  * on, each span of kind "op" becomes a Spark job group, so every job
  * and stage names the op that caused it; query-planning phases carry
  * absolute times and are matched to ops by interval afterwards.
  * A tracer records spans only; [[attach]] adds the listeners and job
  * groups for the passes that are traced, [[detach]] removes them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val t0: Double) {
    var t1: Double = Double.NaN
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name, now())
    spans += s
    stack = s :: stack
    if (attached && kind == "op") sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    s
  }

  def close(s: Span): Unit = {
    s.t1 = now()
    stack = stack.dropWhile(_ ne s).drop(1)
    if (attached && s.kind == "op") sc.clearJobGroup()
  }

  def span[A](kind: String, name: String)(body: Span => A): A = {
    val s = open(kind, name)
    try body(s) finally close(s)
  }

  // ---------------------------------------------------------- listeners

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup.put(e.jobId, group)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      // a stage's `details` is the long call site: the client stack
      // that launched the job, outermost user frames included
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobs.add(Map("job" -> e.jobId, "group" -> group, "t0" -> e.time.toDouble,
        "sources" -> site.contains("graft.sources."),
        "site" -> site.take(600)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val job: Int = Option(stageJob.get(i.stageId)).getOrElse(-1)
      val base = Map[String, Any]("stage" -> i.stageId, "job" -> job,
        "group" -> Option(jobGroup.get(job)).getOrElse(""),
        "t0" -> i.submissionTime.getOrElse(0L).toDouble,
        "t1" -> i.completionTime.getOrElse(0L).toDouble,
        "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined)
      val metrics: Map[String, Any] =
        if (m == null) Map.empty
        else Map("run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1000000L,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
          "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "output_b" -> m.outputMetrics.bytesWritten)
      stages.add(base ++ metrics)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(fn: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def p(name: String): (Double, Double) = ph.get(name)
        .map(s => (s.startTimeMs.toDouble, s.endTimeMs.toDouble)).getOrElse((0.0, 0.0))
      val nodes = try qe.optimizedPlan.collectWithSubqueries { case n => n }.size
        catch { case _: Throwable => 0 }
      val (a0, a1) = p(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
      val (o0, o1) = p(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION)
      val (l0, l1) = p(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)
      phases.add(Map("fn" -> fn, "ok" -> ok, "nodes" -> nodes,
        "analysis" -> Seq(a0, a1), "optimization" -> Seq(o0, o1), "planning" -> Seq(l0, l1)))
    }
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit =
      record(fn, qe, ok = true)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      record(fn, qe, ok = false)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    BusFlush(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  // ---------------------------------------------------------- JVM

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  // ---------------------------------------------------------- dump

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1) ++ s.attrs
    }.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}
