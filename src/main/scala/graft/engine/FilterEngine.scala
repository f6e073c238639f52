package graft.engine

import graft.operators.{Resample, SeriesOps, SignalKernels}
import graft.operators.SeriesOps.Series
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed filter specification — one case per operator the reference's
  * `FilterEngine.available_filters()` declares
  * (/root/reference/filter_engine.py:173-189), with the same default
  * parameters (/root/reference/dialogs.py:15-30).
  */
sealed trait FilterSpec { def name: String }
object FilterSpec {
  final case class MovingAverage(window: Int = 5) extends FilterSpec { val name = "moving_average" }
  final case class Median(window: Int = 5) extends FilterSpec { val name = "median" }
  final case class Savgol(window: Int = 11, polyorder: Int = 2) extends FilterSpec { val name = "savgol" }
  final case class ButterLowpass(cutoffWn: Double = 0.2, order: Int = 4) extends FilterSpec { val name = "butter_lowpass" }
  final case class ButterBandpass(lowWn: Double = 0.05, highWn: Double = 0.4, order: Int = 4) extends FilterSpec { val name = "butter_bandpass" }
  /** Reference dialect: cutoff in Hz, normalized per series against
    * the INFERRED sample rate at execution (filter_engine.py:115-118;
    * reference defaults cutoff=6.0 Hz, order=2 at :51-52) — faithful
    * for one-job replay over mixed-rate multi-trial frames.
    */
  final case class ButterLowpassHz(cutoffHz: Double = 6.0, order: Int = 2) extends FilterSpec { val name = "butter_lowpass" }
  /** Reference dialect band-pass in Hz (filter_engine.py:125-130,
    * defaults low=0.5, high=10.0, order=2 at :55-58).
    */
  final case class ButterBandpassHz(lowHz: Double = 0.5, highHz: Double = 10.0, order: Int = 2) extends FilterSpec { val name = "butter_bandpass" }
  case object Detrend extends FilterSpec { val name = "detrend" }
  case object Derivative extends FilterSpec { val name = "derivative" }
  final case class Integrate(dt: Double = 1.0) extends FilterSpec { val name = "integrate" }
  /** Reference semantics: `cumsum(x) · dt` with `dt = 1/max(fs, 1)`
    * from the TRIAL'S inferred sample rate (filter_engine.py:63-65) —
    * the no-`dt`-param form a saved reference recipe replays with.
    */
  case object IntegrateAuto extends FilterSpec { val name = "integrate" }
  case object Zscore extends FilterSpec { val name = "zscore" }
  case object PercentNormalize extends FilterSpec { val name = "percent_normalize" }
  final case class MovingRms(window: Int = 5) extends FilterSpec { val name = "moving_rms" }
  case object Absolute extends FilterSpec { val name = "absolute" }
  /** method ∈ linear | nearest | zero | slinear | quadratic | cubic
    * (dialogs.py:49 INTERPOLATE_METHODS — all six).
    */
  final case class Interpolate(method: String = "linear") extends FilterSpec { val name = "interpolate" }
  final case class ResampleTo(step: Double) extends FilterSpec { val name = "resample" }

  /** Bare `resample` in the reference wire shape: `target_fs` defaults
    * to the trial's own inferred sample rate (filter_engine.py:80-84,
    * `params.get('target_fs', self.sample_rate)`), resolved from the
    * frame at execution like [[IntegrateAuto]] — NOT a silent 1 Hz
    * grid, which would decimate a 120 Hz trial 120×.
    */
  case object ResampleAuto extends FilterSpec { val name = "resample" }

  /** Numeric parameter names each filter accepts — BOTH the graft
    * dialect (`cutoff_wn`/`low_wn`/`high_wn`/`step`/`dt`) and the
    * reference's recipe dialect (`cutoff`/`low_cut`/`high_cut` in Hz,
    * `target_fs`; /root/reference/filter_engine.py:50-84). Anything
    * else THROWS: a mis-typed parameter name must not silently replay
    * a user's recipe with defaults.
    */
  private val knownNumeric: Map[String, Set[String]] = Map(
    "moving_average" -> Set("window"),
    "median" -> Set("window"),
    "savgol" -> Set("window", "polyorder"),
    "butter_lowpass" -> Set("cutoff_wn", "cutoff", "order"),
    "butter_bandpass" -> Set("low_wn", "high_wn", "low_cut", "high_cut", "order"),
    "detrend" -> Set.empty,
    "derivative" -> Set.empty,
    "integrate" -> Set("dt"),
    "zscore" -> Set.empty,
    "percent_normalize" -> Set.empty,
    "moving_rms" -> Set("window"),
    "absolute" -> Set.empty,
    "interpolate" -> Set.empty,
    "resample" -> Set("step", "target_fs"))

  /** name + params map → spec (the reference's string dispatch);
    * `sp` carries string-valued params (interpolate's `method`).
    *
    * Two Butterworth dialects: graft's normalized `cutoff_wn`/
    * `low_wn`/`high_wn` map to the Wn specs directly; the reference's
    * Hz-valued `cutoff`/`low_cut`/`high_cut` map to the Hz specs,
    * which normalize against the PER-SERIES inferred sample rate at
    * execution (filter_engine.py:115-134 via data_model.sample_rate)
    * — so a saved reference recipe replays faithfully over a
    * multi-trial frame of mixed rates in one job. Mixing dialects in
    * one filter throws, as do unrecognized numeric params.
    *
    * Reference filter-name aliases (`normalize_zscore`,
    * `normalize_percent`, `abs`; filter_engine.py:66-77) are accepted
    * so a verbatim saved recipe dispatches identically. In the Hz
    * dialect `order` defaults to the reference's 2
    * (filter_engine.py:52,58) rather than the graft default 4.
    */
  def fromParams(name: String, p: Map[String, Double],
      sp: Map[String, String] = Map.empty): FilterSpec = {
    val canonical = name match {
      case "normalize_zscore" => "zscore"
      case "normalize_percent" => "percent_normalize"
      case "abs" => "absolute"
      case other => other
    }
    knownNumeric.get(canonical).foreach { allowed =>
      val unknown = p.keySet -- allowed
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"unrecognized numeric parameter(s) ${unknown.toSeq.sorted.mkString(", ")} " +
            s"for filter '$name' (accepted: ${allowed.toSeq.sorted.mkString(", ")})")
    }
    def oneDialect(graft: Boolean, ref: Boolean): Unit =
      if (graft && ref) throw new IllegalArgumentException(
        s"filter '$name' mixes normalized-Wn and Hz parameters; use one dialect")
    canonical match {
      case "moving_average" => MovingAverage(p.getOrElse("window", 5.0).toInt)
      case "median" => Median(p.getOrElse("window", 5.0).toInt)
      case "savgol" => Savgol(p.getOrElse("window", 11.0).toInt, p.getOrElse("polyorder", 2.0).toInt)
      case "butter_lowpass" =>
        oneDialect(p.contains("cutoff_wn"), p.contains("cutoff"))
        if (p.contains("cutoff"))
          ButterLowpassHz(p("cutoff"), p.get("order").map(_.toInt).getOrElse(2))
        else
          ButterLowpass(p.getOrElse("cutoff_wn", 0.2), p.get("order").map(_.toInt).getOrElse(4))
      case "butter_bandpass" =>
        val refDialect = p.contains("low_cut") || p.contains("high_cut")
        oneDialect(p.contains("low_wn") || p.contains("high_wn"), refDialect)
        if (refDialect)
          ButterBandpassHz(p.getOrElse("low_cut", 0.5), p.getOrElse("high_cut", 10.0),
            p.get("order").map(_.toInt).getOrElse(2))
        else
          ButterBandpass(p.getOrElse("low_wn", 0.05), p.getOrElse("high_wn", 0.4),
            p.get("order").map(_.toInt).getOrElse(4))
      case "detrend" => Detrend
      case "derivative" => Derivative
      // no dt param = the reference's form: dt comes from the trial's
      // inferred rate at execution (filter_engine.py:63-65), NOT a
      // silent 1.0 (which scaled outputs ~fs× off on replay)
      case "integrate" => p.get("dt").map(Integrate(_)).getOrElse(IntegrateAuto)
      case "zscore" => Zscore
      case "percent_normalize" => PercentNormalize
      case "moving_rms" => MovingRms(p.getOrElse("window", 5.0).toInt)
      case "absolute" => Absolute
      case "interpolate" => Interpolate(sp.getOrElse("method", "linear"))
      case "resample" =>
        // reference: target_fs (Hz) → uniform grid of step 1/target_fs
        // (filter_engine.py:80-84); graft dialect passes step directly.
        // Both at once is ambiguous → throw, like the Butterworth guard.
        oneDialect(p.contains("step"), p.contains("target_fs"))
        p.get("step").map(ResampleTo(_))
          .orElse(p.get("target_fs").map { tf =>
            require(tf > 0, s"target_fs must be positive (got $tf)")
            ResampleTo(1.0 / tf)
          })
          .getOrElse(ResampleAuto)
      case other => throw new IllegalArgumentException(s"unknown filter: $other")
    }
  }
}

/** The name-dispatched filter engine
  * (/root/reference/filter_engine.py:25-91), Spark-first: every
  * filter is a lazy `DataFrame => DataFrame`; `selection` confines
  * the window to the selected rows and leaves everything else
  * untouched (filter_engine.py:30-37) by partitioning on
  * (seriesKeys, inSelection) — the distributed form of the
  * reference's masked-subframe semantics.
  */
object FilterEngine {

  val availableFilters: Seq[String] = Seq(
    "moving_average", "median", "savgol", "butter_lowpass", "butter_bandpass",
    "detrend", "derivative", "integrate", "zscore", "percent_normalize",
    "moving_rms", "absolute", "interpolate", "resample")

  /** Apply `spec` to each channel in place (out column = channel),
    * optionally scoped to a `[start, end]` time selection. Channels are
    * applied in list order, as a fold would; three specs are applied to
    * all channels at once instead:
    *  - whole-series Savitzky–Golay smooths every channel in one
    *    projection (one pass per repeat of a listed channel, so a
    *    duplicate smooths again exactly as the fold did);
    *  - whole-series zero, nearest, linear and slinear interpolation
    *    fill every channel in one bracket pass (two sorts, whatever
    *    the channel count); filling is idempotent, so a duplicate
    *    channel is filled once;
    *  - resample interpolates every listed channel onto ONE shared
    *    grid, like the reference's resample of all numeric columns
    *    (filter_engine.py:148-170) — the frame becomes series keys,
    *    grid time and the channels.
    */
  def apply(spark: SparkSession, df: DataFrame, s: Series, channels: Seq[String],
      spec: FilterSpec, selection: Option[(Double, Double)] = None): DataFrame = {
    import FilterSpec._
    (spec, selection) match {
      case (Savgol(w, p), None) =>
        Iterator.iterate(channels)(cs => cs.diff(cs.distinct)).takeWhile(_.nonEmpty)
          .foldLeft(df)((d, cs) => SeriesOps.savgolChannels(d, s, cs.distinct.map(c => c -> c), w, p))
      case (Interpolate(m @ ("nearest" | "zero" | "linear" | "slinear")), None) =>
        SeriesOps.interpolate(df, s, bracketMethod(m), channels.distinct.map(c => c -> c))
      case (ResampleTo(step), None) =>
        Resample.resampleFrame(df, s, channels.distinct, Nil, Nil, step)
      case (ResampleAuto, None) =>
        // the trial's inferred rate, one scalar agg at execution
        // (reference default: params.get('target_fs', self.sample_rate))
        val fs = graft.sources.TrialReader.inferSampleRate(df, s.timeCol)
        Resample.resampleFrame(df, s, channels.distinct, Nil, Nil, 1.0 / fs)
      case _ =>
        channels.foldLeft(df)((d, ch) => applyOne(spark, d, s, ch, spec, selection))
    }
  }

  /** The bracket-kernel method of a reference interpolate method. */
  private def bracketMethod(m: String): String = if (m == "slinear") "linear" else m

  private def applyOne(spark: SparkSession, df: DataFrame, s: Series, ch: String,
      spec: FilterSpec, selection: Option[(Double, Double)]): DataFrame =
    selection match {
      case None =>
        whole(spark, df, s, ch, spec)
      case Some((start, end)) =>
        // partition by (keys, inSel): windows see only selection rows
        val flagged = df.withColumn("__insel", col(s.timeCol).between(start, end))
        val scopedSeries = s.copy(keyCols = s.keyCols :+ "__insel")
        val out = whole(spark, flagged, scopedSeries, "__selout", spec,
          srcOverride = Some(ch))
        out.withColumn(ch, when(col("__insel"), col("__selout")).otherwise(col(ch)))
          .drop("__insel", "__selout")
    }

  /** Whole-series application writing `out` (defaults to in-place on
    * the source channel when `srcOverride` is empty).
    */
  private def whole(spark: SparkSession, df: DataFrame, s: Series, out: String,
      spec: FilterSpec, srcOverride: Option[String] = None): DataFrame = {
    val src = srcOverride.getOrElse(out)
    import FilterSpec._
    spec match {
      case MovingAverage(w) => SeriesOps.movingAverage(df, s, src, out, w)
      case Median(w) => SeriesOps.rollingMedian(df, s, src, out, w)
      case Savgol(w, p) => SeriesOps.savgolInterior(df, s, src, out, w, p)
      case Detrend => SeriesOps.detrend(df, s, src, out)
      case Derivative => SeriesOps.derivative(df, s, src, out)
      case Integrate(dt) => SeriesOps.integrate(df, s, src, out, dt)
      case IntegrateAuto =>
        withSrc(df, s, src, out)(SignalKernels.integrateAuto(spark, _, s, _, _))
      case Zscore => SeriesOps.zscore(df, s, src, out)
      case PercentNormalize => SeriesOps.percentNormalize(df, s, src, out)
      case MovingRms(w) => SeriesOps.movingRms(df, s, src, out, w)
      case Absolute => SeriesOps.absolute(df, src, out)
      // all six reference methods (dialogs.py:49 INTERPOLATE_METHODS);
      // `slinear` is scipy's first-order spline = linear interpolation
      // on the axis, so it shares the linear path by identity, not by
      // fallback. Unknown methods THROW — silently interpolating with
      // a different method than the recipe asked for is a wrong answer.
      case Interpolate(m @ ("nearest" | "zero" | "linear" | "slinear")) =>
        SeriesOps.interpolate(df, s, bracketMethod(m), Seq(src -> out))
      case Interpolate("cubic") =>
        withSrc(df, s, src, out)(SignalKernels.interpolateCubic(spark, _, s, _, _))
      case Interpolate("quadratic") =>
        withSrc(df, s, src, out)(SignalKernels.interpolateQuadratic(spark, _, s, _, _))
      case Interpolate(other) =>
        throw new IllegalArgumentException(
          s"unknown interpolate method '$other' (supported: linear, nearest, zero, slinear, quadratic, cubic)")
      case ButterLowpass(wn, ord) =>
        withSrc(df, s, src, out)(SignalKernels.butterLowpass(spark, _, s, _, _, ord, wn))
      case ButterBandpass(lo, hi, ord) =>
        withSrc(df, s, src, out)(SignalKernels.butterBandpass(spark, _, s, _, _, ord, lo, hi))
      case ButterLowpassHz(hz, ord) =>
        withSrc(df, s, src, out)(SignalKernels.butterLowpassHz(spark, _, s, _, _, ord, hz))
      case ButterBandpassHz(lo, hi, ord) =>
        withSrc(df, s, src, out)(SignalKernels.butterBandpassHz(spark, _, s, _, _, ord, lo, hi))
      case ResampleTo(_) | ResampleAuto =>
        // whole-series resample never reaches here (see apply)
        throw new IllegalArgumentException(
          "resample replaces the whole series' time grid; it cannot be scoped to a selection")
    }
  }

  private def withSrc(df: DataFrame, s: Series, src: String, out: String)(
      k: (DataFrame, String, String) => DataFrame): DataFrame =
    if (src == out) k(df, src, s"__tmp_$out").withColumn(out, col(s"__tmp_$out")).drop(s"__tmp_$out")
    else k(df, src, out)
}
