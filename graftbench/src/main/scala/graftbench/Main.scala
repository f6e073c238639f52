package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.api.Graft

/** JVM side of the benchmark: set-up (session start and an untimed
  * priming pass), the timed passes, then the output check. Writes every span
  * and counter as JSON; `run.py` turns them into metrics.
  *
  * {{{
  * graftbench.Main --workload trial-session --fixtures DIR --work DIR
  *   --passes 3 --trace 0 --cores 1 --out result.json
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    // set-up: session through the public deploy defaults, then the
    // priming pass, which pays class loading, JIT and codegen warm-up
    val t0 = System.nanoTime()
    val spark = Graft.sparkSession(master = s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val wl: Workload = opt("workload") match {
      case "registry-sweep" => new RegistrySweep(opt("fixtures"), opt("work"))
      case "trial-session" => new TrialSession(opt("fixtures"), opt("work"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val checkTr = new Tracer(spark)
    wl.prime(spark, checkTr)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] setup: session ${(t1 - t0) / 1e9}%.2f s, priming ${(System.nanoTime() - t1) / 1e9}%.2f s")

    // timed passes, as many as asked. A traced run alternates untraced
    // and traced passes on the same inputs (at least one of each), for
    // the per-layer metrics and trace.overhead_frac.
    val plain = new Tracer(spark)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    (0 until (if (traced) math.max(2, passes) else passes)).foreach { n =>
      val tr = if (n % 2 == 1) tracer.getOrElse(plain) else plain
      if (tr ne plain) tr.attach()
      val gc0 = tr.gcMs
      val p = tr.open("pass", if (tr eq plain) "untraced" else "traced")
      wl.pass(spark, tr)
      tr.close(p)
      tr.detach()
      p.attrs("heap_mb") = tr.heapUsedMb
      p.attrs("gc_ms") = tr.gcMs - gc0
    }

    val checks = wl.check(spark)

    val result = Map(
      "main_start_ms" -> mainStartMs,
      "setup_s" -> setupS,
      "checks" -> checks,
      "check_spans" -> checkTr.toJson("spans"),
      "untraced" -> plain.toJson,
      "traced" -> tracer.map(_.toJson))
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    spark.stop()
  }
}
