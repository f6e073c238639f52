package graft.operators

import graft.functions.Dsp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered-window series operators — the Spark re-expression of the
  * reference's `FilterEngine` (/root/reference/filter_engine.py:25-91)
  * and `DataModel` mutators (/root/reference/data_model.py:170-206).
  *
  * Every operator is a pure `DataFrame => DataFrame` parameterized by
  * a [[Series]] descriptor. The reference processes ONE in-memory
  * trial at a time; here each op runs under
  * `Window.partitionBy(seriesCols)` so one job applies the operator
  * to millions of independent series (trials / users / sensors) —
  * that per-key parallelism is the whole 100 TB story: series are
  * embarrassingly parallel, one hash shuffle by key co-locates a
  * series, and every subsequent window op reuses that partitioning
  * without reshuffling (Spark recognizes the identical
  * partitioning+ordering and plans a single Exchange+Sort).
  *
  * Determinism: all windows order by `(timeCol, tieCols…)` — the tie
  * columns make the total order unique so results are reproducible
  * run-to-run and hash-comparable against an external oracle.
  */
object SeriesOps {

  /** Descriptor of the series axes within a flat table.
    *
    * @param keyCols  columns identifying one independent series
    *                 (the reference's single implicit trial)
    * @param timeCol  ordering axis (double seconds, like the
    *                 reference's `normalized_time`)
    * @param tieCols  deterministic tie-break for equal timestamps
    */
  final case class Series(keyCols: Seq[String], timeCol: String, tieCols: Seq[String] = Nil) {
    def orderCols: Seq[Column] = (timeCol +: tieCols).map(col)
    def ordered: WindowSpec = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    def whole: WindowSpec = Window.partitionBy(keyCols.map(col): _*)
    def centered(window: Int): WindowSpec = {
      val h = window / 2
      ordered.rowsBetween(-h, h)
    }
    def running: WindowSpec = ordered.rowsBetween(Window.unboundedPreceding, 0)

    /** A key-less series (one trial) is a single partition for every
      * window over it. `coalesce(1)` gets there with a narrow
      * dependency, where the planner would add an `Exchange
      * SinglePartition` shuffle; the upstream work then runs in one
      * task, which the window already forced. Keyed input is returned
      * unchanged: its windows need the hash exchange by key.
      */
    def colocate(df: DataFrame): DataFrame = if (keyCols.isEmpty) df.coalesce(1) else df
  }

  // ---------------------------------------------------------------
  // Whole-series normalizations (reference filter_engine.py:66-79)
  // ---------------------------------------------------------------

  /** z-score: `(x - mean)/std` with population std (numpy `nanstd` is
    * population — filter_engine.py:66-69) and std==0 → divide by 1.
    */
  def zscore(df: DataFrame, s: Series, value: String, out: String): DataFrame = {
    val m = avg(col(value)).over(s.whole)
    val sd = stddev_pop(col(value)).over(s.whole)
    df.withColumn(out, (col(value) - m) / when(sd === 0.0 || sd.isNull, 1.0).otherwise(sd))
  }

  /** percent-of-max: `x / max(|x|) * 100`, max==0 → divide by 1
    * (filter_engine.py:70-73).
    */
  def percentNormalize(df: DataFrame, s: Series, value: String, out: String): DataFrame = {
    val mx = max(abs(col(value))).over(s.whole)
    df.withColumn(out, col(value) / when(mx === 0.0 || mx.isNull, 1.0).otherwise(mx) * 100.0)
  }

  /** `abs(x)` (filter_engine.py:78-79). */
  def absolute(df: DataFrame, value: String, out: String): DataFrame =
    df.withColumn(out, abs(col(value)))

  /** Robust z-score: `(x - median) / (1.4826 · MAD)`, the
    * outlier-insensitive normalization (median/MAD instead of
    * mean/std); MAD == 0 → divide by 1, mirroring [[zscore]]'s guard.
    *
    * Determinism: the input quantizes to milli-unit INTEGERS first,
    * making every percentile an exact dyadic rational (an integer or
    * integer+0.5, then quarters for the MAD) that both engines'
    * interpolation formulas compute exactly — so the score is
    * bit-reproducible, not merely close. The two whole-partition
    * percentiles ride one series shuffle (two chained Window passes,
    * no join-back), same shape as [[deleteCollapse]]'s median.
    */
  def robustZscore(df: DataFrame, s: Series, value: String, out: String): DataFrame = {
    val q = round(col(value) * 1e3).cast("long")
    val med = percentile(col("__q"), lit(0.5)).over(s.whole)
    val mad = percentile(abs(col("__q") - col("__med")), lit(0.5)).over(s.whole)
    df.withColumn("__q", q)
      .withColumn("__med", med)
      .withColumn("__mad", mad)
      .withColumn(out, (col("__q") - col("__med")) /
        when(col("__mad") === 0.0 || col("__mad").isNull, 1.0)
          .otherwise(lit(1.4826) * col("__mad")))
      .drop("__q", "__med", "__mad")
  }

  /** Winsorization — clip each sample to its series' exact [p05, p95]
    * percentile band, the robust-preprocessing step that tames heavy
    * tails without deleting rows (vs Hampel's local repair).
    *
    * Determinism: milli-quantized integer inputs make both
    * percentiles exact interpolations of integers (the q101/q112
    * policy); clip MEMBERSHIP compares the exact integer against that
    * value, and clipped outputs are `bound/1000.0` — one division,
    * identical bits on both engines.
    *
    * Scale shape: the percentiles are EXACT but never buffer a
    * series' values (the q108/q203 histogram policy — this replaced a
    * whole-partition `percentile().over` whose ObjectAggregation
    * buffer grew with series length). The milli-quantized values roll
    * up to a per-key VALUE HISTOGRAM (`groupBy(key, q).count` — hash
    * aggregate, map-side combinable, bounded by the value domain per
    * key, not the row count); the two bounds are read off the
    * prefix-summed histogram with Spark `Percentile`'s own
    * `pos = p·(n−1)`, `(hi−pos)·v_lo + (pos−lo)·v_hi` interpolation
    * so the result is bit-identical to the buffered form; the 2-value
    * bounds relation joins back on the series key — a shuffle hash
    * join on the same axis as the series shuffle.
    */
  def winsorize(df: DataFrame, s: Series, value: String, out: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    val keys = s.keyCols.map(col)
    val q = df.withColumn("__q", round(col(value) * 1e3).cast("long"))
    val hist = q.filter(col("__q").isNotNull)
      .groupBy(keys :+ col("__q"): _*).agg(count(lit(1)).as("__cnt"))
    val cum = hist
      .withColumn("__cum", sum("__cnt")
        .over(Window.partitionBy(keys: _*).orderBy("__q")))
      .withColumn("__n", sum("__cnt").over(Window.partitionBy(keys: _*)))
    // histogram rows covering 0-based sort positions floor(p·(n−1))
    // and ceil(p·(n−1)): row with cumulative range [cum−cnt, cum)
    // covers position i iff cum−cnt ≤ i < cum
    def bracket(p: Double, tag: String): Seq[Column] = {
      val pos = (col("__n") - 1).cast("double") * lit(p)
      val lo = floor(pos); val hi = ceil(pos)
      Seq(
        min(when(col("__cum") - col("__cnt") <= lo && lo < col("__cum"), col("__q"))).as(s"__vlo_$tag"),
        min(when(col("__cum") - col("__cnt") <= hi && hi < col("__cum"), col("__q"))).as(s"__vhi_$tag"))
    }
    val aggs = Seq(max("__n").as("__n")) ++ bracket(pLo, "lo") ++ bracket(pHi, "hi")
    // Percentile.getPercentile's exact interpolation on the brackets
    def interp(p: Double, vlo: Column, vhi: Column): Column = {
      val pos = (col("__n") - 1).cast("double") * lit(p)
      val lo = floor(pos); val hi = ceil(pos)
      when(lo === hi || vlo === vhi, vlo.cast("double"))
        .otherwise((hi.cast("double") - pos) * vlo.cast("double") +
          (pos - lo.cast("double")) * vhi.cast("double"))
    }
    val bounds = cum.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .select(keys :+ interp(pLo, col("__vlo_lo"), col("__vhi_lo")).as("__lo")
        :+ interp(pHi, col("__vlo_hi"), col("__vhi_hi")).as("__hi"): _*)
    q.join(bounds, s.keyCols, "left")
      .withColumn(s"${out}_clipped", col("__q") < col("__lo") || col("__q") > col("__hi"))
      .withColumn(out,
        when(col("__q") < col("__lo"), col("__lo") / 1000.0)
          .when(col("__q") > col("__hi"), col("__hi") / 1000.0)
          .otherwise(col(value)))
      .drop("__q", "__lo", "__hi")
  }

  /** Hampel filter — the standard spike repair: replace a sample with
    * the centered rolling median when it sits more than `k` robust
    * sigmas (1.4826·MAD) from that median; otherwise pass it through.
    * The robust scale is the whole-series MAD (one extra
    * whole-partition window on the same shuffle), the center is the
    * rolling median — the practical large-window form.
    *
    * Determinism: milli-quantized integer inputs make every
    * percentile an exact dyadic rational ([[robustZscore]]); the
    * threshold constant `k·1.4826` is folded to ONE double literal on
    * the driver so both engines compare against the bit-identical
    * product — membership (which rows get repaired) cannot flip with
    * reduction order. Three chained windows, one series shuffle.
    */
  def hampel(df: DataFrame, s: Series, value: String, out: String,
      window: Int = 7, k: Double = 3.0): DataFrame = {
    val c = k * 1.4826 // driver-folded: ONE literal, shared with oracles
    val q = round(col(value) * 1e3).cast("long")
    val rmed = percentile(col("__q"), lit(0.5)).over(s.centered(window))
    val med = percentile(col("__q"), lit(0.5)).over(s.whole)
    val mad = percentile(abs(col("__q") - col("__med")), lit(0.5)).over(s.whole)
    df.withColumn("__q", q)
      .withColumn("__rmed", rmed)
      .withColumn("__med", med)
      .withColumn("__mad", mad)
      .withColumn(out + "_repaired",
        abs(col("__q") - col("__rmed")) > lit(c) * col("__mad"))
      .withColumn(out,
        when(col(out + "_repaired"), col("__rmed") / 1e3).otherwise(col(value)))
      .drop("__q", "__rmed", "__med", "__mad")
  }

  /** One-sided CUSUM change-point detection. The textbook recursion
    * `S_t = max(0, S_{t-1} + (x_t - mean))` is not window-expressible,
    * but its closed form is: `S_t = C_t - min_{s<=t} C_s` with `C`
    * the running sum of the deviations — two chained running windows
    * on one series shuffle.
    *
    * Determinism: deviations are EXACT integers on a scale of
    * n·1000 — `d_t = n·q_t - Σq` (milli-quantized values times the
    * series length minus the exact integer sum), so the running sum,
    * running min, and the threshold comparison are all integer
    * arithmetic; nothing floats until the reported score. A row is a
    * change-point when `S_t > k·σ_milli·n` (σ in the same milli-unit
    * scale as the deviations, from the same exact moments — one
    * shared IEEE tree on both engines). The default k = 10 is in
    * units of σ·n/1000, i.e. a sustained excursion of about
    * 10/sqrt(series length) standard deviations.
    */
  def cusumChangepoints(df: DataFrame, s: Series, value: String,
      k: Double = 10.0): DataFrame = {
    val q = round(col(value) * 1e3).cast("long")
    val n = count(col("__q")).over(s.whole)
    val s1 = sum(col("__q")).over(s.whole)
    val s2 = sum(col("__q") * col("__q")).over(s.whole)
    val dev = col("__n") * col("__q") - col("__s1") // exact, scale n*1000
    val c = sum(col("__dev")).over(s.running)
    val nD = col("__n").cast("double")
    val sigma = sqrt(greatest(col("__s2").cast("double") / nD
      - (col("__s1").cast("double") / nD) * (col("__s1").cast("double") / nD), lit(0.0)))
    df.withColumn("__q", q)
      .withColumn("__n", n).withColumn("__s1", s1).withColumn("__s2", s2)
      .withColumn("__dev", dev)
      .withColumn("__c", c)
      .withColumn("__cusum", col("__c") - min(col("__c")).over(s.running))
      .filter(col("__cusum").cast("double") > lit(k) * sigma * nD)
      .withColumn("cusum_score",
        col("__cusum").cast("double") / (nD * lit(1e3)))
      .drop("__q", "__n", "__s1", "__s2", "__dev", "__c", "__cusum")
  }

  /** Local-maximum peak detection with a mean+kσ prominence floor —
    * the spike-inspection cousin of the reference's suggestion
    * heuristic (main.py:1279-1308). A row is a peak iff it strictly
    * exceeds both neighbors AND the per-series threshold derived from
    * EXACT integer moments of the milli-quantized values (same
    * determinism scheme as the q31 islands threshold: Σq and Σq² are
    * exact bigints, the k·σ expression is one shared IEEE tree).
    * Everything rides a single series shuffle: two navigation lags
    * and three whole-partition aggregates, no second aggregation.
    */
  def peaks(df: DataFrame, s: Series, value: String, k: Double = 2.0): DataFrame = {
    val q = round(col(value) * 1e3).cast("long")
    val prev = lag(col("__q"), 1).over(s.ordered)
    val next = lead(col("__q"), 1).over(s.ordered)
    val n = count(col("__q")).over(s.whole).cast("double")
    val s1 = sum(col("__q")).over(s.whole).cast("double")
    val s2 = sum(col("__q") * col("__q")).over(s.whole).cast("double")
    val thr = s1 / n + lit(k) * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), lit(0.0)))
    df.withColumn("__q", q)
      .withColumn("__pk",
        col("__q") > prev && col("__q") > next && col("__q").cast("double") > thr)
      .filter(col("__pk"))
      .drop("__q", "__pk")
  }

  // ---------------------------------------------------------------
  // Rolling windows (reference filter_engine.py:38-49, 74-77)
  // ---------------------------------------------------------------

  /** Centered rolling mean, `min_periods=1` (filter_engine.py:38-40).
    * Spark rows-frames auto-shrink at partition edges, which is
    * exactly pandas' `min_periods=1` semantics.
    */
  def movingAverage(df: DataFrame, s: Series, value: String, out: String, window: Int = 5): DataFrame =
    df.withColumn(out, avg(col(value)).over(s.centered(window)))

  /** Centered rolling median, exact (interpolating) — pandas
    * `rolling().median()` parity (filter_engine.py:41-43). Uses
    * Spark's exact `percentile` aggregate over a rows frame; for the
    * window sizes the domain uses (5-31 samples) the per-row cost is
    * trivial and stays inside WindowExec.
    */
  def rollingMedian(df: DataFrame, s: Series, value: String, out: String, window: Int = 5): DataFrame =
    df.withColumn(out, percentile(col(value), lit(0.5)).over(s.centered(window)))

  /** Centered rolling RMS: `sqrt(rolling_mean(x²))`
    * (filter_engine.py:74-77).
    */
  def movingRms(df: DataFrame, s: Series, value: String, out: String, window: Int = 5): DataFrame =
    df.withColumn(out, sqrt(avg(col(value) * col(value)).over(s.centered(window))))

  /** Savitzky–Golay FIR smoothing (filter_engine.py:44-49). The SG
    * convolution weights are computed once on the driver ([[Dsp]])
    * and unrolled into a codegen-friendly left-associated sum of
    * `lag`/`lead` terms — a fixed FIR is just a linear combination of
    * neighbors, no UDF needed. Rows within `halfWindow` of a series
    * edge keep the original value (the exact scipy edge polynomial
    * fit lives in the [[SignalKernels]] path).
    */
  def savgolInterior(df: DataFrame, s: Series, value: String, out: String,
      window: Int = 11, polyorder: Int = 2): DataFrame =
    savgolChannels(df, s, Seq(value -> out), window, polyorder)

  /** [[savgolInterior]] for several `(value, out)` pairs in ONE
    * projection: every channel shares the same ordered and whole-series
    * windows, so the plan has two `Window` operators whatever the
    * channel count. Out names must be distinct; each pair reads its
    * value column as it was before this call.
    */
  def savgolChannels(df: DataFrame, s: Series, pairs: Seq[(String, String)],
      window: Int = 11, polyorder: Int = 2): DataFrame = {
    val coefs = Dsp.savgolCoefficients(window, polyorder)
    val h = window / 2
    val rn = row_number().over(s.ordered)
    val n = count(lit(1)).over(s.whole)
    def smoothed(value: String): Column = {
      val fir = coefs.zipWithIndex.map { case (c, i) =>
        val off = i - h
        val term = if (off < 0) lag(col(value), -off).over(s.ordered)
                   else if (off > 0) lead(col(value), off).over(s.ordered)
                   else col(value)
        lit(c) * term
      }.reduceLeft(_ + _)
      when(rn > h && rn <= n - h, fir).otherwise(col(value))
    }
    s.colocate(df).withColumns(scala.collection.immutable.ListMap(
      pairs.map { case (value, out) => out -> smoothed(value) }: _*))
  }

  // ---------------------------------------------------------------
  // Calculus (filter_engine.py:59-65)
  // ---------------------------------------------------------------

  /** Remove the least-squares linear trend (filter_engine.py:59-60,
    * 136-146). Closed form — `slope = covar_pop(t,x)/var_pop(t)` —
    * so it's two built-in window aggregates, no fitting kernel.
    */
  def detrend(df: DataFrame, s: Series, value: String, out: String): DataFrame = {
    val t = col(s.timeCol)
    val slope = covar_pop(t, col(value)).over(s.whole) /
      when(var_pop(t).over(s.whole) === 0.0, 1.0).otherwise(var_pop(t).over(s.whole))
    val intercept = avg(col(value)).over(s.whole) - slope * avg(t).over(s.whole)
    df.withColumn(out, col(value) - (intercept + slope * t))
  }

  /** Derivative by central differences with one-sided edges — the
    * `np.gradient` scheme (filter_engine.py:61-62) generalized to a
    * non-uniform time axis: `(x[i+1]-x[i-1])/(t[i+1]-t[i-1])`.
    */
  def derivative(df: DataFrame, s: Series, value: String, out: String): DataFrame = {
    val v = col(value); val t = col(s.timeCol)
    val vp = lag(v, 1).over(s.ordered);  val tp = lag(t, 1).over(s.ordered)
    val vn = lead(v, 1).over(s.ordered); val tn = lead(t, 1).over(s.ordered)
    df.withColumn(out,
      when(vp.isNotNull && vn.isNotNull, (vn - vp) / (tn - tp))
        .when(vp.isNull && vn.isNotNull, (vn - v) / (tn - t))
        .when(vn.isNull && vp.isNotNull, (v - vp) / (t - tp))
        .otherwise(lit(0.0)))
  }

  /** Running integral `cumsum(x)·dt` (filter_engine.py:63-65). `dt`
    * is a constant sample spacing exactly as in the reference (which
    * uses `1/fs`).
    */
  def integrate(df: DataFrame, s: Series, value: String, out: String, dt: Double = 1.0): DataFrame =
    df.withColumn(out, sum(col(value)).over(s.running) * lit(dt))

  // ---------------------------------------------------------------
  // Row mutations (data_model.py:170-206, main.py:604-625)
  // ---------------------------------------------------------------

  /** Rows inside `[start, end]` on the time axis (data_model.py:359-363). */
  def timeSlice(df: DataFrame, s: Series, start: Double, end: Double): DataFrame =
    df.filter(col(s.timeCol).between(start, end))

  /** Flag `[start, end]` as bad, duration preserved
    * (data_model.py:196-206).
    */
  def markBad(df: DataFrame, s: Series, start: Double, end: Double,
      flag: String = "is_bad_segment"): DataFrame = {
    val existing = if (df.columns.contains(flag)) col(flag) else lit(false)
    df.withColumn(flag, when(col(s.timeCol).between(start, end), true).otherwise(existing))
  }

  /** Delete `[start, end]` and collapse the time axis
    * (data_model.py:170-194): survivors are re-indexed onto a uniform
    * grid `round(i·dt, 3)` where `dt = round(median positive Δt of
    * the survivors, 3)` — millisecond rounding reproduced exactly.
    * Returns the surviving rows with `timeCol` rebuilt.
    */
  def deleteCollapse(df: DataFrame, s: Series, start: Double, end: Double): DataFrame = {
    val t = col(s.timeCol)
    val surv = s.colocate(df).filter(t < start || t > end)
    // per-series median as a whole-partition window aggregate: rides
    // the SAME hash partitioning as the lag/rank windows (one shuffle
    // total), where a groupBy + join-back needs a second aggregation
    // shuffle and — with millions of series — a medians table too big
    // to broadcast. `percentile` ignores the nulls the `when` injects,
    // matching the dt > 0 filter semantics.
    //
    // The ms rounding is EXACT INTEGER arithmetic on the µs grid:
    // gaps quantize to µs, the median runs on a DOUBLED grid (so
    // even-count interpolation yields integers, never halves), and
    // µs→ms half-up is an integer shift-divide. A float
    // `round(median, 3)` sits exactly on the half-millisecond
    // boundary whenever the µs median ≡ 500 (mod 1000) — the
    // cross-engine rounding split q51 hit at sf0.1; integers cannot.
    val dtUs = round((t - lag(t, 1).over(s.ordered)) * 1e6).cast("long")
    val med2 = percentile(when(dtUs > 0, dtUs * 2), lit(0.5)).over(s.whole)
    val dtmMs = expr("(cast(__med2 as bigint) + 1000) div 2000")
    val rn = row_number().over(s.ordered)
    surv.withColumn("__med2", med2)
      .withColumn(s.timeCol,
        (rn - 1).cast("long") * coalesce(dtmMs, lit(1000L)) / lit(1e3))
      .drop("__med2")
  }

  /** Angular frame transform with wrap to [-180, 180)
    * (main.py:604-625; formula main.py:621). Python's `%` on
    * negatives ≡ `pmod`, hence the double-mod normalization.
    */
  def frameTransform(src: Column, dst: Column, offsetDeg: Double): Column = {
    val x = src - dst - lit(offsetDeg) + lit(180.0)
    ((x % 360.0) + 360.0) % 360.0 - 180.0
  }

  /** Gaps-and-islands: merge contiguous flagged rows into segments
    * (main.py:1290-1302). `flag` must be non-null boolean. Returns
    * one row per island: series keys + islandId + min/max time +
    * count.
    */
  def islands(df: DataFrame, s: Series, flag: Column): DataFrame = {
    val fl = flag.cast("int")
    val prev = lag(fl, 1, 0).over(s.ordered)
    val edge = when(fl === 1 && prev === 0, 1).otherwise(0)
    val islandId = sum(edge).over(s.running)
    df.withColumn("__f", fl).withColumn("__island", islandId)
      .filter(col("__f") === 1)
      .groupBy((s.keyCols.map(col) :+ col("__island").as("island_id")): _*)
      .agg(min(col(s.timeCol)).as("seg_start"), max(col(s.timeCol)).as("seg_end"),
        count(lit(1)).as("n_rows"))
  }

  /** Forward-fill (`Series.ffill`, main.py:1240). */
  def ffill(df: DataFrame, s: Series, value: String, out: String): DataFrame =
    df.withColumn(out, last(col(value), ignoreNulls = true).over(s.running))

  /** Bracket kernel: for each value column `i`, the previous and next
    * non-null sample as `(v, t)` structs `__prev_i` / `__next_i`, both
    * inclusive of the current row (a non-null row brackets itself).
    *
    * Both directions are RUNNING `last ignoreNulls` frames: "previous"
    * over `s.ordered`, "next" over the exact reverse of that order
    * (ascending sorts nulls first, descending nulls last, so the
    * reversal holds on nullable tie columns too). A running frame
    * evaluates incrementally, O(n) per series; the literal "next"
    * frame, `first ignoreNulls` over [current, unboundedFollowing],
    * re-aggregates the rest of the series for every row, O(n²). All
    * columns go in one `select`, so the plan has two `Window` nodes
    * (two sorts on one series shuffle) whatever the column count.
    */
  private def withBrackets(df: DataFrame, s: Series, values: Seq[String]): DataFrame = {
    val t = col(s.timeCol)
    val next = Window.partitionBy(s.keyCols.map(col): _*).orderBy(s.orderCols.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val brackets = values.zipWithIndex.flatMap { case (value, i) =>
      val v = col(value)
      val sample = when(v.isNotNull, struct(v.as("v"), t.as("t")))
      Seq(last(sample, ignoreNulls = true).over(s.running).as(s"__prev_$i"),
        last(sample, ignoreNulls = true).over(next).as(s"__next_$i"))
    }
    s.colocate(df).select(col("*") +: brackets: _*)
  }

  /** Gap interpolation of nulls (filter_engine.py:85-87; `method` of
    * dialogs.py:49) for every `(value, out)` pair in one pass over the
    * [[withBrackets]] kernel. Non-null samples pass through; a null
    * takes, from its bracketing non-nulls on the time axis:
    *  - `zero`: the previous value (zero-order hold, a step function);
    *  - `nearest`: the closer one's value (ties → the earlier);
    *  - `linear`: the lerp between them (a same-time bracket takes the
    *    previous value).
    * Leading and trailing nulls clamp to the nearest non-null in every
    * method (`limit_direction="both"`). Out names must be distinct;
    * each pair reads its value column as it was before this call.
    */
  def interpolate(df: DataFrame, s: Series, method: String,
      channels: Seq[(String, String)]): DataFrame = {
    val t = col(s.timeCol)
    val fill: (Column, Column, Column, Column) => Column = method match {
      case "zero" => (pv, _, nv, _) => when(pv.isNotNull, pv).otherwise(nv)
      case "nearest" => (pv, pt, nv, nt) =>
        when(pv.isNull, nv).when(nv.isNull, pv).when(t - pt <= nt - t, pv).otherwise(nv)
      case "linear" => (pv, pt, nv, nt) =>
        when(pv.isNotNull && nv.isNotNull && nt =!= pt, pv + (nv - pv) * (t - pt) / (nt - pt))
          .when(pv.isNotNull, pv)
          .otherwise(nv)
      case other => throw new IllegalArgumentException(
        s"unknown interpolate method '$other' (supported: zero, nearest, linear)")
    }
    val outs = channels.zipWithIndex.map { case ((value, out), i) =>
      out -> when(col(value).isNotNull, col(value)).otherwise(fill(
        col(s"__prev_$i.v"), col(s"__prev_$i.t"), col(s"__next_$i.v"), col(s"__next_$i.t")))
    }
    withBrackets(df, s, channels.map(_._1))
      .withColumns(scala.collection.immutable.ListMap(outs: _*))
      .drop(channels.indices.flatMap(i => Seq(s"__prev_$i", s"__next_$i")): _*)
  }
}
