package graft

import graft.operators.{Resample, SeriesOps}
import graft.operators.SeriesOps.Series
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SeriesOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val s = Series(Seq("k"), "t", Seq("i"))

  private def df(vals: (Double, Double)*): DataFrame =
    vals.zipWithIndex.map { case ((t, v), i) => (1L, i.toLong, t, v) }
      .toDF("k", "i", "t", "v")

  private def out(d: DataFrame, c: String): Seq[Double] =
    d.orderBy("t").select(col(c).cast("double")).collect().map(_.getDouble(0)).toSeq

  private def approx(a: Seq[Double], b: Seq[Double], eps: Double = 1e-9): Unit = {
    assert(a.length == b.length, s"lengths $a vs $b")
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) <= eps, s"$a vs $b") }
  }

  test("zscore: population std, zero-std guard") {
    val d = df((0, 1), (1, 2), (2, 3))
    val sd = math.sqrt(2.0 / 3.0)
    approx(out(SeriesOps.zscore(d, s, "v", "z"), "z"), Seq(-1 / sd, 0, 1 / sd))
    approx(out(SeriesOps.zscore(df((0, 5), (1, 5)), s, "v", "z"), "z"), Seq(0, 0))
  }

  test("percent normalize: x / max|x| * 100") {
    approx(out(SeriesOps.percentNormalize(df((0, -2), (1, 1)), s, "v", "p"), "p"),
      Seq(-100, 50))
  }

  test("moving average: centered, min_periods=1 edge shrink") {
    approx(out(SeriesOps.movingAverage(df((0, 1), (1, 2), (2, 3), (3, 4)), s, "v", "m", 3), "m"),
      Seq(1.5, 2, 3, 3.5))
  }

  test("rolling median: exact interpolating median") {
    approx(out(SeriesOps.rollingMedian(df((0, 5), (1, 1), (2, 4), (3, 2)), s, "v", "m", 3), "m"),
      Seq(3, 4, 2, 3))
  }

  test("moving rms") {
    approx(out(SeriesOps.movingRms(df((0, 3), (1, 4)), s, "v", "r", 3), "r"),
      Seq(math.sqrt(12.5), math.sqrt(12.5)))
  }

  test("detrend removes an exact linear trend") {
    val d = df((0, 1), (1, 3), (2, 5), (3, 7))
    approx(out(SeriesOps.detrend(d, s, "v", "r"), "r"), Seq(0, 0, 0, 0))
  }

  test("derivative: central differences, one-sided edges") {
    val d = df((0, 0), (1, 1), (2, 4))
    approx(out(SeriesOps.derivative(d, s, "v", "g"), "g"), Seq(1, 2, 3))
  }

  test("integrate: running sum times dt") {
    approx(out(SeriesOps.integrate(df((0, 1), (1, 2), (2, 3)), s, "v", "c", 0.5), "c"),
      Seq(0.5, 1.5, 3))
  }

  test("savgol interior reproduces a quadratic (order 2)") {
    val d = df((0 to 10).map(i => (i.toDouble, i * i * 1.0)): _*)
    approx(out(SeriesOps.savgolInterior(d, s, "v", "sg", 5, 2), "sg"),
      (0 to 10).map(i => i * i * 1.0), 1e-8)
  }

  test("delete-collapse rebuilds a contiguous ms-rounded axis") {
    val d = df((0 to 9).map(i => (i * 0.1, i.toDouble)): _*)
    val r = SeriesOps.deleteCollapse(d, s, 0.25, 0.55)
    val ts = out(r, "t")
    assert(ts == (0 until 7).map(i => math.rint(i * 0.1 * 1000) / 1000))
    assert(out(r, "v") == Seq(0.0, 1.0, 2.0, 6.0, 7.0, 8.0, 9.0))
  }

  test("mark bad preserves rows and flags the interval") {
    val r = SeriesOps.markBad(df((0, 1), (1, 2), (2, 3)), s, 0.5, 1.5)
    assert(r.count() == 3)
    assert(out(r, "is_bad_segment") == Seq(0.0, 1.0, 0.0))
  }

  test("frame transform wraps like python modulo") {
    val d = df((0, 0)).withColumn("w",
      SeriesOps.frameTransform(lit(10.0), lit(350.0), 0.0))
    approx(out(d, "w"), Seq(20.0))
    val d2 = df((0, 0)).withColumn("w",
      SeriesOps.frameTransform(lit(-170.0), lit(20.0), 10.0))
    approx(out(d2, "w"), Seq(160.0))
  }

  test("islands merges contiguous flagged runs") {
    val d = df((0, 0), (1, 1), (2, 1), (3, 0), (4, 1))
    val r = SeriesOps.islands(d, s, col("v") === 1.0)
      .orderBy("island_id").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("n_rows") == 2 && r(1).getAs[Long]("n_rows") == 1)
    assert(r(0).getAs[Double]("seg_start") == 1.0 && r(0).getAs[Double]("seg_end") == 2.0)
  }

  test("ffill carries last non-null forward") {
    val d = Seq((1L, 0L, 0.0, None), (1L, 1L, 1.0, Some(7.0)),
      (1L, 2L, 2.0, None), (1L, 3L, 3.0, Some(9.0)))
      .toDF("k", "i", "t", "v")
    val r = SeriesOps.ffill(d, s, "v", "f").orderBy("t")
      .select("f").collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    assert(r.toSeq == Seq(None, Some(7.0), Some(7.0), Some(9.0)))
  }

  test("interpolate: interior lerp, edge clamp") {
    val d = Seq((1L, 0L, 0.0, None), (1L, 1L, 1.0, Some(1.0)),
      (1L, 2L, 2.0, None), (1L, 3L, 3.0, Some(3.0)))
      .toDF("k", "i", "t", "v")
    approx(out(SeriesOps.interpolate(d, s, "linear", Seq("v" -> "li")), "li"),
      Seq(1.0, 1.0, 2.0, 3.0))
  }

  test("resample grid + interp: np.interp clamped-end semantics") {
    val samples = df((0.0, 0.0), (1.0, 10.0))
    val grid = Resample.uniformGrid(samples, s, 0.4)
    assert(out(grid, "t") == Seq(0.0, 0.4, 0.8))
    val r = Resample.toUniformGrid(samples, s, "v", "rv", 0.4)
    approx(out(r, "rv"), Seq(0.0, 4.0, 8.0))
    // probe past the last sample clamps
    val probes = Seq((1L, 5.0)).toDF("k", "t")
    approx(out(Resample.interpolateAt(samples, probes, s, "v", "rv"), "rv"), Seq(10.0))
  }

  test("asof backward: latest at-or-before, null before first") {
    val samples = df((1.0, 10.0), (2.0, 20.0))
    val probes = Seq((1L, 0.5), (1L, 1.0), (1L, 9.0)).toDF("k", "t")
    val r = Resample.asofBackward(samples, probes, s, "v", "av")
      .orderBy("t").select("av").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    assert(r.toSeq == Seq(None, Some(10.0), Some(20.0)))
  }

  test("robust zscore: median/MAD on milli-quantized values, MAD=0 guard") {
    // values 1..5 with an outlier 100: med=3.5? n=6 -> med of
    // (1,2,3,4,5,100)*1000 = 3500; |q-med| = (2500,1500,500,500,1500,96500)
    // -> MAD = 1500
    val d = df((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 100))
    val rz = out(SeriesOps.robustZscore(d, s, "v", "rz"), "rz")
    val expect = Seq(-2500.0, -1500.0, -500.0, 500.0, 1500.0, 96500.0)
      .map(_ / (1.4826 * 1500.0))
    approx(rz, expect)
    // constant series: MAD=0 -> divide by 1, all zeros
    approx(out(SeriesOps.robustZscore(df((0, 7), (1, 7), (2, 7)), s, "v", "rz"), "rz"),
      Seq(0.0, 0.0, 0.0))
  }

  test("cusum: flags the post-shift rows of a step series, none when flat") {
    // 10 samples at 0, then 10 at 5: the cusum ramps after the step
    val step = (0 until 20).map(i => (i.toDouble, if (i < 10) 0.0 else 5.0))
    val d = df(step: _*)
    val hits = SeriesOps.cusumChangepoints(d, s, "v", 5.0)
      .select("t").as[Double].collect().toSeq.sorted
    assert(hits.nonEmpty && hits.forall(_ >= 10.0), s"hits=$hits")
    // monotone score growth along the ramp
    val scores = SeriesOps.cusumChangepoints(d, s, "v", 5.0)
      .orderBy("t").select("cusum_score").as[Double].collect().toSeq
    assert(scores == scores.sorted)
    // flat series: zero deviations, no change-points at any k
    assert(SeriesOps.cusumChangepoints(df((0, 3), (1, 3), (2, 3)), s, "v", 0.0)
      .count() == 0)
  }

  test("peaks: strict local maxima above mean+2s, edges never peak") {
    // two candidate maxima; only the 50 spike clears mean+2s
    val d = df((0, 1), (1, 3), (2, 1), (3, 50), (4, 1), (5, 2))
    val p = SeriesOps.peaks(d, s, "v").select("t").as[Double].collect().toSeq
    assert(p == Seq(3.0))
    // plateau (equal neighbors) is not a strict peak
    val flat = df((0, 1), (1, 9), (2, 9), (3, 1))
    assert(SeriesOps.peaks(flat, s, "v", 0.0).count() == 0)
  }

  test("hampel: repairs the lone spike with the rolling median, flags only it") {
    val d = df((0, 1), (1, 1), (2, 1), (3, 100), (4, 1), (5, 1), (6, 1))
    val h = SeriesOps.hampel(d, s, "v", "hv")
    val flags = h.orderBy("t").select("hv_repaired").as[Boolean].collect().toSeq
    assert(flags == Seq(false, false, false, true, false, false, false))
    approx(out(h, "hv"), Seq(1, 1, 1, 1, 1, 1, 1))
    // clean series passes through untouched
    val clean = SeriesOps.hampel(df((0, 2), (1, 2), (2, 2)), s, "v", "hv")
    assert(clean.filter(col("hv_repaired")).count() == 0)
    approx(out(clean, "hv"), Seq(2, 2, 2))
  }

  test("ewma kernel matches the direct recurrence") {
    val vals = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val d = df(vals.zipWithIndex.map { case (v, i) => (i.toDouble, v) }: _*)
    val got = out(graft.operators.SignalKernels.ewma(spark, d, s, "v", "e", 0.25), "e")
    val want = vals.tail.scanLeft(vals.head)((y, x) => 0.25 * x + 0.75 * y)
    assert(got == want) // bit-exact, not approx: same op order
  }

  test("native session_window sessions reconcile with the hand-rolled islands (q30)") {
    val dir = "/root/testdata/sf0.001"
    val native = graft.operators.EventSeriesJoins.q136NativeSession.fn(spark, dir)
      .select(col("user_id"), col("n"), col("total")).collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)))).sorted
    val islands = graft.operators.EventSeriesJoins.q30Sessionize.fn(spark, dir)
      .select(col("user_id"), col("n"), col("total")).collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)))).sorted
    // no exact-gap deltas exist in the data, so the two boundary
    // conventions produce identical session multisets
    assert(native.toSeq == islands.toSeq)
    assert(native.nonEmpty)
  }

  test("goertzel: on-bin tone energy grows ~N², off-bin tone stays bounded") {
    val n = 200
    def tone(f: Double) = df((0 until n).map(i =>
      (i.toDouble, math.cos(2 * math.Pi * f * i))): _*)
    def finalPower(f: Double): Double =
      out(graft.operators.SignalKernels.goertzelPower(spark, tone(f), s, "v", "p", 0.1), "p").last
    // probing 0.1 cycles/sample: matched tone accumulates ~(N/2)²
    assert(finalPower(0.1) > 0.5 * (n / 2.0) * (n / 2.0))
    // an off-bin tone (0.27) never resonates: orders of magnitude below
    assert(finalPower(0.27) < 0.01 * (n / 2.0) * (n / 2.0))
  }
}
