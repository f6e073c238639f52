package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.jdk.CollectionConverters._

/** Per-query bench diagnostics. Round 5's driver sweep recorded a
  * cluster of series-window queries at 5-60x the times the identical
  * code produced in the builder's own sweep (q20 14.06 s vs 0.27 s on
  * a 100k-row window pass) and min-of-2 did not absorb it, so the
  * plain wall-clock artifact cannot distinguish three very different
  * causes. This listener + driver-MXBean layer splits every query's
  * wall time into attributable buckets so BENCH_DIAG.json answers it
  * per query, per repeat:
  *
  *  - `taskRunMs`/`taskCpuMs` small while `wall` is large  -> the time
  *    was spent OUTSIDE tasks (scheduler starvation or external CPU
  *    contention in the sandbox — compare `procCpuMs` to wall*cores);
  *  - `taskGcMs`/`drvGcMs` large                           -> JVM heap
  *    pressure from sweep aging (the 8g-vs-24g effect in build.sbt);
  *  - `spillMemB`/`spillDiskB` nonzero                     -> genuine
  *    operator memory pressure (WindowExec/sort buffers) — impossible
  *    at sf0.1's 99-rows-per-user windows, so nonzero means a plan bug;
  *  - `codegenCompiles`/`codegenCompileMs` nonzero on a repeated query
  *    -> generated classes were recompiled, not reused from Spark's
  *    codegen cache (evicted, or new literals inlined into the code).
  *    Read from Spark's JVM-wide codegen counters, so they cover the
  *    driver and, in local mode, the tasks too.
  */
final class TaskMetricsListener extends SparkListener {
  private val runMs = new LongAdder
  private val cpuNs = new LongAdder
  private val gcMs = new LongAdder
  private val memSpill = new LongAdder
  private val diskSpill = new LongAdder
  private val tasks = new LongAdder

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      memSpill.add(m.memoryBytesSpilled)
      diskSpill.add(m.diskBytesSpilled)
      tasks.increment()
    }
  }

  def snapshot: TaskSnapshot =
    TaskSnapshot(runMs.sum, cpuNs.sum / 1000000L, gcMs.sum,
      memSpill.sum, diskSpill.sum, tasks.sum,
      BenchDiag.codegenCompiles, BenchDiag.codegenCompileMs)
}

final case class TaskSnapshot(runMs: Long, cpuMs: Long, gcMs: Long,
    memSpillB: Long, diskSpillB: Long, tasks: Long,
    codegenCompiles: Long, codegenCompileMs: Long) {
  def -(o: TaskSnapshot): TaskSnapshot =
    TaskSnapshot(runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
      memSpillB - o.memSpillB, diskSpillB - o.diskSpillB, tasks - o.tasks,
      codegenCompiles - o.codegenCompiles, codegenCompileMs - o.codegenCompileMs)
}

object BenchDiag {
  /** Sum of driver-JVM GC time across collectors, ms. */
  def driverGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Whole-process CPU time, ms (driver + local executor threads —
    * one JVM in local mode, so this is total engine CPU burn).
    */
  def processCpuMs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => -1L
    }

  def heapUsedMb: Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20

  def metaspaceMb: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed >> 20).sum

  /** Generated classes compiled in this JVM so far (cache misses of
    * Spark's codegen cache), and the time spent compiling them, ms.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenCompileMs: Long = CodeGenerator.compileTime / 1000000L

  /** One repeat's attribution record. */
  final case class Rec(wallMs: Long, ts: TaskSnapshot, drvGcMs: Long,
      procCpuMs: Long)

  def recJson(r: Rec): String =
    s"""{"wallMs":${r.wallMs},"taskRunMs":${r.ts.runMs},"taskCpuMs":${r.ts.cpuMs},""" +
      s""""taskGcMs":${r.ts.gcMs},"spillMemB":${r.ts.memSpillB},"spillDiskB":${r.ts.diskSpillB},""" +
      s""""tasks":${r.ts.tasks},"drvGcMs":${r.drvGcMs},"procCpuMs":${r.procCpuMs},""" +
      s""""codegenCompiles":${r.ts.codegenCompiles},"codegenCompileMs":${r.ts.codegenCompileMs}}"""
}
