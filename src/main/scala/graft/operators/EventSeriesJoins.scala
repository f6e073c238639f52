package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cardinality-changing and join-shaped series operators
  * (SURVEY.md §2.6, §2.9, W10-W11): interpolation, resample-to-grid,
  * sessionization, gaps-and-islands, interval join, nearest-row,
  * as-of join, forward-fill, and the `flatMapGroups` IIR kernels.
  */
object EventSeriesJoins {

  private val s = SeriesOps.Series(Seq("user_id"), "tn", Seq("event_id"))

  private val S =
    s"""WITH s AS (SELECT *, t - min(t) OVER (PARTITION BY user_id) AS tn
       |FROM (${Tables.seriesSql}))""".stripMargin

  private val OW = "PARTITION BY user_id ORDER BY tn, event_id"
  private val PW = s"$OW ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
  private val FW = s"$OW ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"

  /** W10: linear interpolation of nulls, limit_direction=both.
    * Nulls are injected deterministically (`event_type = 'error'`).
    */
  val q28Interpolate: QueryDef = QueryDef.sql(
    "q28_interpolate",
    s"""$S, n AS (SELECT user_id, event_id, tn,
       |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM s),
       |b AS (SELECT *,
       |  last_value(v IGNORE NULLS) OVER ($PW) AS pv,
       |  last_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($PW) AS pt,
       |  first_value(v IGNORE NULLS) OVER ($FW) AS nv,
       |  first_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($FW) AS nt
       |FROM n)
       |SELECT user_id, event_id, tn,
       |  CASE WHEN v IS NOT NULL THEN v
       |       WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
       |         THEN pv + (nv - pv) * (tn - pt) / (nt - pt)
       |       WHEN pv IS NOT NULL THEN pv
       |       ELSE nv END AS vi
       |FROM b ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    SeriesOps.interpolate(df, s, "linear", Seq("v" -> "vi"))
      .select("user_id", "event_id", "tn", "vi")
      .orderBy("user_id", "event_id")
  }

  /** W11: resample onto a uniform 6-hour grid per series, linear
    * interp, ends clamped — the reference's one cardinality-changing
    * operator.
    */
  val q29Resample: QueryDef = {
    val step = 21600.0
    QueryDef.sql(
      "q29_resample",
      s"""$S, m AS (SELECT user_id, max(tn) AS mt FROM s GROUP BY user_id),
         |g AS (SELECT user_id, unnest(generate_series(0,
         |    CAST(floor(mt / $step) AS BIGINT))) * $step AS tn FROM m),
         |u AS (SELECT user_id, tn, value AS v, 0 AS gg, event_id FROM s
         |  UNION ALL SELECT user_id, tn, NULL, 1, NULL FROM g),
         |w AS (SELECT *,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |FROM u)
         |SELECT user_id, tn AS tg,
         |  CASE WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       WHEN nt = pt THEN pv
         |       ELSE pv + (nv - pv) * (tn - pt) / (nt - pt) END AS v
         |FROM w WHERE gg = 1 ORDER BY user_id, tg""".stripMargin) { (spark, dir) =>
      Resample.toUniformGrid(Tables.seriesNorm(spark, dir), s, "value", "v", step)
        .withColumnRenamed("tn", "tg")
        .orderBy("user_id", "tg")
    }
  }

  /** W10 `method='nearest'`: null takes the closer bracketing value
    * (ties → earlier), edges clamp.
    */
  val q65InterpolateNearest: QueryDef = QueryDef.sql(
    "q65_interpolate_nearest",
    s"""$S, n AS (SELECT user_id, event_id, tn,
       |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM s),
       |b AS (SELECT *,
       |  last_value(v IGNORE NULLS) OVER ($PW) AS pv,
       |  last_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($PW) AS pt,
       |  first_value(v IGNORE NULLS) OVER ($FW) AS nv,
       |  first_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($FW) AS nt
       |FROM n)
       |SELECT user_id, event_id, tn,
       |  CASE WHEN v IS NOT NULL THEN v
       |       WHEN pv IS NULL THEN nv
       |       WHEN nv IS NULL THEN pv
       |       WHEN tn - pt <= nt - tn THEN pv
       |       ELSE nv END AS vn
       |FROM b ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    SeriesOps.interpolate(df, s, "nearest", Seq("v" -> "vn"))
      .select("user_id", "event_id", "tn", "vn")
      .orderBy("user_id", "event_id")
  }

  /** W10 `method='cubic'`: natural cubic spline through the non-null
    * knots. The oracle replays the Thomas-algorithm recurrences as
    * recursive CTEs with the kernel's exact IEEE op order
    * ([[graft.functions.KernelOracles.cubicSplineOracle]]).
    */
  val q66InterpolateCubic: QueryDef = QueryDef.sql(
    "q66_interpolate_cubic",
    graft.functions.KernelOracles.cubicSplineOracle(Tables.seriesSql)) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    SignalKernels.interpolateCubic(spark, df, s, "v", "vc")
      .select(col("user_id"), col("event_id"), col("tn"), round(col("vc"), 6).as("vc"))
      .orderBy("user_id", "event_id")
  }

  /** W10 `method='quadratic'`: global quadratic B-spline through the
    * non-null knots — scipy `make_interp_spline(k=2)`'s midpoint-knot
    * collocation solve, the algorithm pandas dispatches to for the
    * reference's `method='quadratic'` (dialogs.py:49). The oracle
    * replays the knot layout, tridiagonal Thomas sweeps and de Boor
    * evaluation as recursive CTEs with the kernel's exact IEEE op
    * order ([[graft.functions.KernelOracles.quadraticSplineOracle]]).
    */
  val q147InterpolateQuadratic: QueryDef = QueryDef.sql(
    "q147_interpolate_quadratic",
    graft.functions.KernelOracles.quadraticSplineOracle(Tables.seriesSql)) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    SignalKernels.interpolateQuadratic(spark, df, s, "v", "vq")
      .select(col("user_id"), col("event_id"), col("tn"), round(col("vq"), 6).as("vq"))
      .orderBy("user_id", "event_id")
  }

  /** W10 `method='zero'`: zero-order hold — each null takes the
    * previous non-null (step function); leading nulls clamp to the
    * first non-null.
    */
  val q148InterpolateZero: QueryDef = QueryDef.sql(
    "q148_interpolate_zero",
    s"""$S, n AS (SELECT user_id, event_id, tn,
       |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM s),
       |b AS (SELECT *,
       |  last_value(v IGNORE NULLS) OVER ($PW) AS pv,
       |  first_value(v IGNORE NULLS) OVER ($FW) AS nv
       |FROM n)
       |SELECT user_id, event_id, tn,
       |  CASE WHEN v IS NOT NULL THEN v
       |       WHEN pv IS NOT NULL THEN pv
       |       ELSE nv END AS vz
       |FROM b ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    SeriesOps.interpolate(df, s, "zero", Seq("v" -> "vz"))
      .select("user_id", "event_id", "tn", "vz")
      .orderBy("user_id", "event_id")
  }

  /** Sessionization: gap > 12 h starts a new session — the scalable
    * generalization of the reference's suggestion-segment merging.
    *
    * Float determinism: `value` is quantized to integer micro-units
    * BEFORE summing, so the aggregation is exact and associative —
    * Spark's run-to-run partial-aggregation order can't flip the
    * rounded total (double sums are order-sensitive; bigint sums are
    * not). Identical quantization on the DuckDB side.
    */
  val q30Sessionize: QueryDef = QueryDef.sql(
    "q30_sessionize",
    s"""$S, g AS (SELECT *, CASE WHEN lag(tn) OVER ($OW) IS NULL
       |    OR tn - lag(tn) OVER ($OW) > 43200.0 THEN 1 ELSE 0 END AS brk FROM s),
       |x AS (SELECT *, CAST(sum(brk) OVER ($PW) AS BIGINT) AS session_id FROM g)
       |SELECT user_id, session_id, min(tn) AS s_start, max(tn) AS s_end,
       |  count(*) AS n,
       |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS total
       |FROM x GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val lagT = lag(col("tn"), 1).over(s.ordered)
    val brk = when(lagT.isNull || col("tn") - lagT > 43200.0, 1).otherwise(0)
    val micro = round(col("value") * lit(1e6)).cast("bigint")
    Tables.seriesNorm(spark, dir)
      .withColumn("session_id", sum(brk).over(s.running))
      .groupBy("user_id", "session_id")
      .agg(min("tn").as("s_start"), max("tn").as("s_end"),
        count(lit(1)).as("n"),
        round(sum(micro).cast("double") / lit(1e6), 4).as("total"))
      .orderBy("user_id", "session_id")
  }

  /** OHLC bar downsampling — the AGGREGATING resample beside W11's
    * interpolating one: each 6-hour bucket collapses to its open
    * (first value in (tn, event_id) order), high, low, close (last)
    * and count, the standard lossy compaction for dashboarding and
    * coarse backtesting. One shuffle: the first/last window and the
    * bar aggregate share the (user, bar) partitioning; values pass
    * through un-arithmeticked, so raw-double parity is exact.
    */
  val q140OhlcBars: QueryDef = {
    val barSec = 21600.0
    val bw = "PARTITION BY user_id, bar ORDER BY tn, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    QueryDef.sql(
      "q140_ohlc_bars",
      s"""$S, b AS (SELECT user_id, event_id, tn, value,
         |  CAST(floor(tn / $barSec) AS BIGINT) AS bar FROM s),
         |w AS (SELECT *, first_value(value) OVER ($bw) AS o,
         |  last_value(value) OVER ($bw) AS c FROM b)
         |SELECT user_id, bar, min(tn) AS t_start, count(*) AS n,
         |  max(o) AS open, max(value) AS high, min(value) AS low, max(c) AS close
         |FROM w GROUP BY user_id, bar
         |ORDER BY user_id, bar""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("user_id", "bar").orderBy("tn", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.seriesNorm(spark, dir)
        .withColumn("bar", floor(col("tn") / barSec).cast("long"))
        .withColumn("o", first("value").over(w))
        .withColumn("c", last("value").over(w))
        .groupBy("user_id", "bar")
        .agg(min("tn").as("t_start"), count(lit(1)).as("n"),
          max("o").as("open"), max("value").as("high"),
          min("value").as("low"), max("c").as("close"))
        .orderBy("user_id", "bar")
    }
  }

  /** q30's semantics through Spark's NATIVE `session_window`
    * operator — the built-in gap-session aggregation (one
    * hash-aggregate with session merge, no window-function pass),
    * which is also the operator a streaming deployment uses with
    * watermark-driven state eviction. Kept alongside the hand-rolled
    * islands form deliberately: the native operator works on absolute
    * event-time timestamps, the islands form on any numeric axis.
    *
    * Boundary semantics: Spark merges an event into the open session
    * iff it arrives STRICTLY inside start+gap, so the oracle breaks
    * on `delta >= gap` (q30's islands break on `> gap` over the tn
    * axis — a semantic difference visible only for a delta of exactly
    * the gap). All outputs are exact integer microseconds; the
    * session end is the last EVENT time (window.end minus the gap,
    * exact integer arithmetic), not Spark's padded window end.
    */
  val q136NativeSession: QueryDef = {
    val gapUs = 43200000000L // 12 h in µs
    QueryDef.sql(
      "q136_native_session",
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
         |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
         |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $gapUs
         |    THEN 1 ELSE 0 END AS brk FROM e),
         |x AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM g)
         |SELECT user_id, min(us) AS s_start_us, max(us) AS s_end_us,
         |  count(*) AS n,
         |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS total
         |FROM x GROUP BY user_id, sid
         |ORDER BY user_id, s_start_us""".stripMargin) { (spark, dir) =>
      val micro = round(col("value") * lit(1e6)).cast("bigint")
      Tables.events(spark, dir)
        .select(col("user_id"),
          expr("timestamp_micros(ts div 1000)").as("ets"), col("value"))
        .groupBy(col("user_id"), session_window(col("ets"), "12 hours"))
        .agg(count(lit(1)).as("n"),
          round(sum(micro).cast("double") / lit(1e6), 4).as("total"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_start_us"),
          (unix_micros(col("session_window.end")) - gapUs).as("s_end_us"),
          col("n"), col("total"))
        .orderBy("user_id", "s_start_us")
    }
  }

  /** Event-path transition matrix: event-type bigram counts WITHIN
    * q30's sessions (a session boundary breaks the chain), plus each
    * session's entry state — the Markov-chain view of user behavior
    * that funnel/session analyses consume. Shares the one per-user
    * shuffle: the session id, the lagged predecessor type, and the
    * final aggregate all ride the same partitioning; counts are
    * integers (exact).
    */
  val q106PathTransitions: QueryDef = QueryDef.sql(
    "q106_path_transitions",
    s"""$S, g AS (SELECT *, CASE WHEN lag(tn) OVER ($OW) IS NULL
       |    OR tn - lag(tn) OVER ($OW) > 43200.0 THEN 1 ELSE 0 END AS brk FROM s),
       |x AS (SELECT *, CAST(sum(brk) OVER ($PW) AS BIGINT) AS session_id FROM g),
       |p AS (SELECT event_type AS to_type,
       |    CASE WHEN brk = 1 THEN '__start__'
       |         ELSE lag(event_type) OVER ($OW) END AS from_type
       |  FROM x)
       |SELECT from_type, to_type, count(*) AS n
       |FROM p GROUP BY from_type, to_type
       |ORDER BY from_type, to_type""".stripMargin) { (spark, dir) =>
    val lagT = lag(col("tn"), 1).over(s.ordered)
    val brk = when(lagT.isNull || col("tn") - lagT > 43200.0, 1).otherwise(0)
    Tables.seriesNorm(spark, dir)
      .withColumn("brk", brk)
      .withColumn("from_type",
        when(col("brk") === 1, "__start__")
          .otherwise(lag(col("event_type"), 1).over(s.ordered)))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** §2.9 gaps-and-islands: contiguous spike rows (|Δx| above the
    * per-series mean+3σ threshold, A5) merged into segments.
    */
  val q31SpikeIslands: QueryDef = QueryDef.sql(
    "q31_spike_islands",
    s"""$S, d AS (SELECT user_id, event_id, tn,
       |  CAST(round(abs(value - lag(value) OVER ($OW)) * 1000.0) AS BIGINT) AS adm FROM s),
       |th AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(adm) AS DOUBLE) AS s1, CAST(sum(adm * adm) AS DOUBLE) AS s2
       |  FROM d WHERE adm IS NOT NULL GROUP BY user_id),
       |t2 AS (SELECT user_id,
       |    s1 / nd + 3 * sqrt(greatest(s2 / nd - (s1 / nd) * (s1 / nd), 0.0)) AS thr FROM th),
       |f AS (SELECT d.user_id, event_id, tn,
       |  (adm IS NOT NULL AND CAST(adm AS DOUBLE) > thr) AS fl
       |  FROM d JOIN t2 ON d.user_id = t2.user_id),
       |e AS (SELECT *, CASE WHEN fl AND NOT coalesce(
       |    lag(fl) OVER (PARTITION BY user_id ORDER BY tn, event_id), false)
       |    THEN 1 ELSE 0 END AS edge FROM f),
       |i AS (SELECT *, CAST(sum(edge) OVER (PARTITION BY user_id ORDER BY tn, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id FROM e)
       |SELECT user_id, island_id, min(tn) AS seg_start, max(tn) AS seg_end,
       |  count(*) AS n_rows
       |FROM i WHERE fl GROUP BY user_id, island_id
       |ORDER BY user_id, island_id""".stripMargin) { (spark, dir) =>
    // Determinism: |Δx| quantized to integer milli-units, then the
    // mean+3σ threshold is derived from EXACT integer moments
    // (Σm, Σm² fit in 2^53 at this value range, so the bigint→double
    // casts are exact and the identical IEEE expression tree yields
    // bit-identical thresholds in Spark and DuckDB regardless of
    // partial-aggregation order). The moments are whole-partition
    // window aggregates riding the same per-series shuffle as the
    // lag/island windows — no second aggregation shuffle, no
    // thresholds table to join back.
    val d = Tables.seriesNorm(spark, dir)
      .withColumn("adm",
        round(abs(col("value") - lag(col("value"), 1).over(s.ordered)) * lit(1e3))
          .cast("bigint"))
    val nd = count(col("adm")).over(s.whole).cast("double")
    val s1 = sum(col("adm")).over(s.whole).cast("double")
    val s2 = sum(col("adm") * col("adm")).over(s.whole).cast("double")
    val m1 = s1 / nd
    val thr = m1 + lit(3) * sqrt(greatest(s2 / nd - m1 * m1, lit(0.0)))
    val flagged = d
      .withColumn("fl", col("adm").isNotNull && col("adm").cast("double") > thr)
    SeriesOps.islands(flagged, s, col("fl"))
      .orderBy("user_id", "island_id")
  }

  /** Interval (range) join: session spans re-joined to the points
    * they cover — the reference's annotations-to-samples lookup shape
    * (main.py:1052-1057). Spans are derived, then the join is an
    * equi-join on the series key + range predicate, so Catalyst plans
    * a hash join (never a nested-loop over all pairs).
    */
  val q32IntervalJoin: QueryDef = QueryDef.sql(
    "q32_interval_join",
    s"""$S, g AS (SELECT *, CASE WHEN lag(tn) OVER ($OW) IS NULL
       |    OR tn - lag(tn) OVER ($OW) > 43200.0 THEN 1 ELSE 0 END AS brk FROM s),
       |x AS (SELECT *, CAST(sum(brk) OVER ($PW) AS BIGINT) AS session_id FROM g),
       |iv AS (SELECT user_id, session_id, min(tn) AS s_start, max(tn) AS s_end
       |  FROM x GROUP BY user_id, session_id)
       |SELECT iv.user_id, iv.session_id, count(*) AS n_in,
       |  round(CAST(sum(CAST(round(e.value * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1000000.0, 6) AS mean_v
       |FROM iv JOIN s e ON e.user_id = iv.user_id
       |  AND e.tn BETWEEN iv.s_start AND iv.s_end
       |GROUP BY iv.user_id, iv.session_id
       |ORDER BY iv.user_id, iv.session_id""".stripMargin) { (spark, dir) =>
    val events = Tables.seriesNorm(spark, dir)
    val lagT = lag(col("tn"), 1).over(s.ordered)
    val brk = when(lagT.isNull || col("tn") - lagT > 43200.0, 1).otherwise(0)
    val intervals = events
      .withColumn("session_id", sum(brk).over(s.running))
      .groupBy("user_id", "session_id")
      .agg(min("tn").as("s_start"), max("tn").as("s_end"))
    // mean over micro-quantized integers: exact associative sum, so
    // the rounded mean is identical run-to-run and engine-to-engine
    val micro = round(col("e.value") * lit(1e6)).cast("bigint")
    events.as("e")
      .join(broadcast(intervals.as("iv")),
        col("e.user_id") === col("iv.user_id") &&
          col("e.tn").between(col("iv.s_start"), col("iv.s_end")))
      .groupBy(col("iv.user_id").as("user_id"), col("iv.session_id").as("session_id"))
      .agg(count(lit(1)).as("n_in"),
        round(sum(micro).cast("double") / count(lit(1)) / lit(1e6), 6).as("mean_v"))
      .orderBy("user_id", "session_id")
  }

  /** A7 nearest-row lookup: the sample closest to t₀ per series. */
  val q33NearestRow: QueryDef = QueryDef.sql(
    "q33_nearest_row",
    s"""$S, r AS (SELECT user_id, event_id, tn, value,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY abs(tn - 1296000.0), event_id) AS rn FROM s)
       |SELECT user_id, event_id, tn, value FROM r WHERE rn = 1
       |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id")
      .orderBy(abs(col("tn") - 1296000.0), col("event_id"))
    Tables.seriesNorm(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "tn", "value")
      .orderBy("user_id")
  }

  /** Backward as-of join onto a daily grid: latest observed value
    * at-or-before each grid instant (union-trick, not a range join).
    */
  val q34AsofJoin: QueryDef = {
    val step = 86400.0
    QueryDef.sql(
      "q34_asof_join",
      s"""$S, m AS (SELECT user_id, max(tn) AS mt FROM s GROUP BY user_id),
         |g AS (SELECT user_id, unnest(generate_series(0,
         |    CAST(floor(mt / $step) AS BIGINT))) * $step AS tn FROM m),
         |u AS (SELECT user_id, tn, value AS v, 0 AS gg, event_id FROM s
         |  UNION ALL SELECT user_id, tn, NULL, 1, NULL FROM g),
         |w AS (SELECT *, last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_v FROM u)
         |SELECT user_id, tn AS tg, asof_v FROM w WHERE gg = 1
         |ORDER BY user_id, tg""".stripMargin) { (spark, dir) =>
      val samples = Tables.seriesNorm(spark, dir)
      val grid = Resample.uniformGrid(samples, s, step)
      Resample.asofBackward(samples, grid, s, "value", "asof_v")
        .withColumnRenamed("tn", "tg")
        .orderBy("user_id", "tg")
    }
  }

  /** Forward-fill (episode ffill, main.py:1240): carry the last
    * 'purchase' value forward.
    */
  val q35Ffill: QueryDef = QueryDef.sql(
    "q35_ffill",
    s"""$S SELECT user_id, event_id, tn,
       |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
       |    OVER ($PW) AS last_purchase
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
      .withColumn("p", when(col("event_type") === "purchase", col("value")))
    SeriesOps.ffill(df, s, "p", "last_purchase")
      .select("user_id", "event_id", "tn", "last_purchase")
      .orderBy("user_id", "event_id")
  }

  /** W4 zero-phase Butterworth low-pass — sequential IIR recurrence.
    * The oracle replays the biquad-cascade recurrence (odd-reflection
    * pad, forward/backward passes) as recursive CTEs mirroring the
    * kernel's exact IEEE op order
    * ([[graft.functions.KernelOracles.butterLowpassOracle]]).
    */
  private def kernelOut(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user_id"), col("event_id"), col("tn"),
      round(col("filtered"), 6).as("filtered"))
      .orderBy("user_id", "event_id")

  val q36ButterLowpass: QueryDef = QueryDef.sql(
    "q36_butter_lowpass",
    graft.functions.KernelOracles.butterLowpassOracle(Tables.seriesSql, 4, 0.2)) { (spark, dir) =>
    kernelOut(SignalKernels.butterLowpass(spark, Tables.seriesNorm(spark, dir),
      s, "value", "filtered", 4, 0.2))
  }

  /** W5 band-pass (detrend-style composition of two low-passes). */
  val q37ButterBandpass: QueryDef = QueryDef.sql(
    "q37_butter_bandpass",
    graft.functions.KernelOracles.butterBandpassOracle(Tables.seriesSql, 4, 0.05, 0.4)) { (spark, dir) =>
    kernelOut(SignalKernels.butterBandpass(spark, Tables.seriesNorm(spark, dir),
      s, "value", "filtered", 4, 0.05, 0.4))
  }

  /** W3 exact Savitzky–Golay with scipy edge semantics: interior FIR
    * plus fixed edge-weight dot products shared verbatim with the
    * oracle ([[graft.functions.KernelOracles.savgolExactOracle]]).
    */
  val q38SavgolExact: QueryDef = QueryDef.sql(
    "q38_savgol_exact",
    graft.functions.KernelOracles.savgolExactOracle(Tables.seriesSql, 11, 2)) { (spark, dir) =>
    kernelOut(SignalKernels.savgolExact(spark, Tables.seriesNorm(spark, dir),
      s, "value", "filtered", 11, 2))
  }

  /** EWMA smoothing (first-order IIR on the kernel runner) — the
    * oracle replays the identical recurrence as a recursive CTE
    * ([[graft.functions.KernelOracles.ewmaOracle]]). The output is
    * deliberately UNROUNDED: the recurrence is bit-exact on both
    * engines, and rounding is the only nondeterminism available —
    * Spark's BigDecimal half-up and DuckDB's float-multiply rounding
    * disagree when a value sits within an ulp of the 6-dp boundary
    * (observed: 77.20343749999999 → .203437 vs .203438).
    */
  val q110Ewma: QueryDef = QueryDef.sql(
    "q110_ewma",
    graft.functions.KernelOracles.ewmaOracle(Tables.seriesSql, 0.25)) { (spark, dir) =>
    SignalKernels.ewma(spark, Tables.seriesNorm(spark, dir),
      s, "value", "smoothed", 0.25)
      .select(col("user_id"), col("event_id"), col("tn"), col("smoothed"))
      .orderBy("user_id", "event_id")
  }

  /** Running Goertzel power at 0.1 cycles/sample — single-bin
    * spectral tracking on the same per-series kernel runner as the
    * IIR filters; the oracle replays the identical second-order
    * recurrence as a recursive CTE
    * ([[graft.functions.KernelOracles.goertzelOracle]]). Unrounded
    * output for the same reason as q110.
    */
  val q132Goertzel: QueryDef = QueryDef.sql(
    "q132_goertzel",
    graft.functions.KernelOracles.goertzelOracle(Tables.seriesSql, 0.1)) { (spark, dir) =>
    SignalKernels.goertzelPower(spark, Tables.seriesNorm(spark, dir),
      s, "value", "power", 0.1)
      .select(col("user_id"), col("event_id"), col("tn"), col("power"))
      .orderBy("user_id", "event_id")
  }

  /** Kalman local-level filtering (predict/update with an annealing
    * gain) — denoising that, unlike the fixed-α EWMA, weights early
    * samples correctly while the state covariance converges. Rides
    * the per-series kernel runner; the oracle replays the identical
    * scalar recurrence as a recursive CTE
    * ([[graft.functions.KernelOracles.kalmanOracle]]). Unrounded
    * output for the same reason as q110/q132: bit-exact replay.
    */
  val q180KalmanLevel: QueryDef = {
    val (qv, rv) = (0.01, 1.0)
    QueryDef.sql(
      "q180_kalman_level",
      graft.functions.KernelOracles.kalmanOracle(Tables.seriesSql, qv, rv)) { (spark, dir) =>
      SignalKernels.kalmanLevel(spark, Tables.seriesNorm(spark, dir),
        s, "value", "level", qv, rv)
        .select(col("user_id"), col("event_id"), col("tn"), col("level"))
        .orderBy("user_id", "event_id")
    }
  }

  /** Anti-aliased decimation: zero-phase low-pass at the decimation
    * cutoff (0.8/factor of Nyquist), then every `factor`-th sample —
    * filter-then-pick, the aliasing-safe downsample (vs W11's
    * grid-interpolating resample). The pick is a row_number projection
    * on the kernel's own series shuffle — no extra exchange.
    */
  val q111Decimate: QueryDef = {
    val factor = 4; val order = 4; val wn = 0.8 / factor
    QueryDef.sql(
      "q111_decimate",
      graft.functions.KernelOracles.decimateOracle(Tables.seriesSql, order, wn, factor)) { (spark, dir) =>
      SignalKernels.butterLowpass(spark, Tables.seriesNorm(spark, dir),
        s, "value", "decimated", order, wn)
        .withColumn("__i", row_number().over(s.ordered) - 1)
        .filter(col("__i") % factor === 0)
        .select(col("user_id"), col("event_id"), col("tn"),
          round(col("decimated"), 6).as("decimated"))
        .orderBy("user_id", "event_id")
    }
  }

  /** A4 episode overlay (main.py:1233-1277): fabricate a sparse
    * episode index (set on 'purchase' events), forward-fill it, then
    * per episode: extent + count + MODE of the label — mode computed
    * with an explicit count + row_number tie-break (count desc, label
    * asc) so Spark and DuckDB agree deterministically.
    */
  val q61EpisodeOverlay: QueryDef = QueryDef.sql(
    "q61_episode_overlay",
    s"""$S, e AS (SELECT user_id, event_id, tn, event_type,
       |  coalesce(last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
       |    OVER ($PW), -1) AS episode FROM s),
       |c AS (SELECT user_id, episode, event_type, count(*) AS cnt,
       |    min(tn) AS mn, max(tn) AS mx
       |  FROM e GROUP BY user_id, episode, event_type),
       |t AS (SELECT user_id, episode,
       |    CAST(sum(cnt) AS BIGINT) AS n_rows, min(mn) AS t_start, max(mx) AS t_end,
       |    arg_min(event_type,
       |      lpad(CAST(100000000 - cnt AS VARCHAR), 10, '0') || event_type) AS mode_type
       |  FROM c GROUP BY user_id, episode)
       |SELECT user_id, episode, t_start, t_end, n_rows, mode_type,
       |  'episode:' || mode_type AS label,
       |  CASE WHEN lower('episode:' || mode_type) LIKE '%action%'
       |         OR lower('episode:' || mode_type) LIKE '%performing%' THEN '#ffa500'
       |       WHEN lower('episode:' || mode_type) LIKE '%inspect%' THEN '#6bd47a'
       |       ELSE '#8888ff' END AS color
       |FROM t ORDER BY user_id, episode""".stripMargin) { (spark, dir) =>
    // rows before the first purchase get the integer sentinel episode
    // -1 (event_id >= 0) instead of NULL: no null group keys, no
    // NULLS FIRST/LAST divergence in the final ordering.
    val ep = coalesce(last(when(col("event_type") === "purchase", col("event_id")),
      ignoreNulls = true).over(s.running), lit(-1L))
    // mode via min_by on a sortable "(count desc, type asc)" string
    // key (the key embeds the type, so it is unique per group and the
    // pick is deterministic) — ONE aggregation instead of the
    // groupBy + rank-window + join + persist it replaces: two
    // shuffles total for the whole rollup
    val modeKey = concat(
      lpad((lit(100000000L) - col("cnt")).cast("string"), 10, "0"),
      col("event_type"))
    val rolled = Tables.seriesNorm(spark, dir)
      .withColumn("episode", ep)
      .groupBy("user_id", "episode", "event_type")
      .agg(count(lit(1)).as("cnt"), min("tn").as("mn"), max("tn").as("mx"))
      .groupBy("user_id", "episode")
      .agg(sum("cnt").as("n_rows"), min("mn").as("t_start"), max("mx").as("t_end"),
        min_by(col("event_type"), modeKey).as("mode_type"))
    // annotation label + color rules (main.py:1255-1270): episodes
    // read as "episode:<mode>"; action/performing → orange,
    // inspection → green, default indigo
    val label = concat(lit("episode:"), col("mode_type"))
    val color = when(lower(label).contains("action") ||
        lower(label).contains("performing"), "#ffa500")
      .when(lower(label).contains("inspect"), "#6bd47a")
      .otherwise("#8888ff")
    rolled
      .select(col("user_id"), col("episode"),
        col("t_start"), col("t_end"), col("n_rows"), col("mode_type"),
        label.as("label"), color.as("color"))
      .orderBy("user_id", "episode")
  }

  /** W11 full-frame resample: numeric channel lerped, boolean flag
    * lerped then re-binarized at > 0.5 (filter_engine.py:168-169),
    * label collapsed to the series' first value in time order
    * (filter_engine.py:166-167) — one union-and-window pass.
    */
  val q62ResampleFrame: QueryDef = {
    val step = 43200.0
    val O = "PARTITION BY user_id ORDER BY tn, gg, coalesce(event_id, -1)"
    def lerp(v: String) = {
      val pv = s"last_value($v IGNORE NULLS) OVER ($O ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val pt = s"last_value(CASE WHEN $v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($O ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val nv = s"first_value($v IGNORE NULLS) OVER ($O ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
      val nt = s"first_value(CASE WHEN $v IS NOT NULL THEN tn END IGNORE NULLS) OVER ($O ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
      s"""CASE WHEN $pv IS NULL THEN $nv WHEN $nv IS NULL THEN $pv
         |  WHEN $nt = $pt THEN $pv
         |  ELSE $pv + ($nv - $pv) * (tn - $pt) / ($nt - $pt) END""".stripMargin
    }
    QueryDef.sql(
      "q62_resample_frame",
      s"""$S, m AS (SELECT user_id, max(tn) AS mt FROM s GROUP BY user_id),
         |g AS (SELECT user_id, unnest(generate_series(0,
         |    CAST(floor(mt / $step) AS BIGINT))) * $step AS tn FROM m),
         |u AS (SELECT user_id, tn, value AS v,
         |    CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS f,
         |    event_type AS lab, 0 AS gg, event_id FROM s
         |  UNION ALL SELECT user_id, tn, NULL, NULL, NULL, 1, NULL FROM g),
         |w AS (SELECT user_id, tn, gg, ${lerp("v")} AS vi, ${lerp("f")} AS fi,
         |    first_value(lab IGNORE NULLS) OVER ($O
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lab0
         |  FROM u)
         |SELECT user_id, tn AS tg, round(vi, 6) AS v, fi > 0.5 AS is_err,
         |  lab0 AS first_type
         |FROM w WHERE gg = 1 ORDER BY user_id, tg""".stripMargin) { (spark, dir) =>
      val in = Tables.seriesNorm(spark, dir)
        .withColumn("f", col("event_type") === "error")
      Resample.resampleFrame(in, s, Seq("value"), Seq("f"), Seq("event_type"), step)
        .select(col("user_id"), col("tn").as("tg"), round(col("value"), 6).as("v"),
          col("f").as("is_err"), col("event_type").as("first_type"))
        .orderBy("user_id", "tg")
    }
  }

  /** The q34 daily-grid backfill through the dedicated
    * [[graft.plans.AsOfJoinExec]] physical operator (logical node +
    * strategy + streaming-merge SparkPlan) instead of the union-trick:
    * one merge pass per partition, no window, no union.
    *
    * Semantics note: the exec has ROW semantics (like DuckDB's native
    * ASOF JOIN) — the latest at-or-before sample row is attached even
    * when its value is null — whereas q34's union-trick has VALUE
    * semantics (`last_value IGNORE NULLS` skips null-valued samples).
    * The oracle here encodes row semantics via a struct wrapper
    * (non-null for every sample row regardless of its value), so the
    * two paths stay honestly distinguished; on a null-free value
    * column they coincide (AsOfJoinSpec pins that parity).
    */
  val q125AsofExec: QueryDef = {
    val step = 86400.0
    QueryDef.sql(
      "q125_asof_exec",
      s"""$S, m AS (SELECT user_id, max(tn) AS mt FROM s GROUP BY user_id),
         |g AS (SELECT user_id, unnest(generate_series(0,
         |    CAST(floor(mt / $step) AS BIGINT))) * $step AS tn FROM m),
         |u AS (SELECT user_id, tn, value AS v, 0 AS gg, event_id FROM s
         |  UNION ALL SELECT user_id, tn, NULL, 1, NULL FROM g),
         |w AS (SELECT *, (last_value(CASE WHEN gg = 0 THEN struct_pack(v := v) END
         |    IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY tn, gg, coalesce(event_id, -1)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS asof_v FROM u)
         |SELECT user_id, tn AS tg, asof_v FROM w WHERE gg = 1
         |ORDER BY user_id, tg""".stripMargin) { (spark, dir) =>
      val series = Tables.seriesNorm(spark, dir)
      val grid = Resample.uniformGrid(series, s, step)
      val samples = series.select(col("user_id").as("s_uid"),
        col("tn").as("s_tn"), col("value").as("v"), col("event_id"))
      graft.plans.AsOfJoin.backward(grid, samples,
          Seq("user_id"), Seq("s_uid"), "tn", "s_tn", Seq("event_id"))
        .select(col("user_id"), col("tn").as("tg"), col("v").as("asof_v"))
        .orderBy("user_id", "tg")
    }
  }

  /** Last-touch attribution: every purchase is credited to the
    * latest preceding non-purchase touch within a 1-hour window —
    * the conversion-accounting query behind channel reports, and a
    * second production use of the custom [[graft.plans.AsOfJoinExec]]
    * streaming-merge operator (one sorted pass per user partition —
    * never a per-purchase range scan).
    *
    * Semantics: at-or-before (a touch AT the purchase instant
    * counts); sample-time ties resolve to the highest event_id —
    * identical to q125's contract, and the oracle encodes the same
    * order. Purchases with no touch, or a touch older than the
    * window, report channel 'none'. The gap rolls up in exact
    * quantized milliseconds; the mean is one IEEE division.
    */
  val q161Attribution: QueryDef = {
    val windowSec = 3600.0
    QueryDef.sql(
      "q161_attribution",
      s"""$S, u AS (
         |  SELECT user_id, tn, NULL AS s_type, NULL::DOUBLE AS s_tn, event_id, 1 AS gg
         |    FROM s WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT user_id, tn, event_type, tn, event_id, 0 FROM s
         |    WHERE event_type <> 'purchase'),
         |w AS (SELECT *, last_value(CASE WHEN gg = 0
         |      THEN struct_pack(st := s_type, stn := s_tn) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY tn, gg, coalesce(event_id, -1)
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
         |  FROM u),
         |p AS (SELECT user_id, tn, (lt).st AS s_type, (lt).stn AS s_tn
         |  FROM w WHERE gg = 1),
         |c AS (SELECT
         |    CASE WHEN s_tn IS NOT NULL AND tn - s_tn <= $windowSec
         |      THEN s_type ELSE 'none' END AS channel,
         |    CASE WHEN s_tn IS NOT NULL AND tn - s_tn <= $windowSec
         |      THEN CAST(round((tn - s_tn) * 1000.0) AS BIGINT) END AS gap_ms
         |  FROM p)
         |SELECT channel, count(*) AS n_purchases,
         |  CAST(coalesce(sum(gap_ms), 0) AS BIGINT) AS sum_gap_ms,
         |  CASE WHEN channel <> 'none' THEN
         |    round(CAST(coalesce(sum(gap_ms), 0) AS BIGINT)::DOUBLE / count(*), 6)
         |  END AS mean_gap_ms
         |FROM c GROUP BY channel ORDER BY channel""".stripMargin) { (spark, dir) =>
      val series = Tables.seriesNorm(spark, dir)
      val probes = series.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tn"), col("event_id"))
      val samples = series.filter(col("event_type") =!= "purchase")
        .select(col("user_id").as("s_uid"), col("tn").as("s_tn"),
          col("event_type").as("s_type"), col("event_id").as("s_eid"))
      val attributed = graft.plans.AsOfJoin.backward(probes, samples,
        Seq("user_id"), Seq("s_uid"), "tn", "s_tn", Seq("s_eid"))
      attributed
        .withColumn("channel",
          when(col("s_tn").isNotNull && col("tn") - col("s_tn") <= windowSec,
            col("s_type")).otherwise(lit("none")))
        .withColumn("gap_ms", when(col("channel") =!= "none",
          expr("cast(round((tn - s_tn) * 1000.0) as bigint)")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          coalesce(sum("gap_ms"), lit(0L)).as("sum_gap_ms"))
        .withColumn("mean_gap_ms", when(col("channel") =!= "none",
          round(col("sum_gap_ms").cast("double") / col("n_purchases"), 6)))
        .select("channel", "n_purchases", "sum_gap_ms", "mean_gap_ms")
        .orderBy("channel")
    }
  }

  val all: Seq[QueryDef] = Seq(
    q28Interpolate, q29Resample, q30Sessionize, q31SpikeIslands,
    q32IntervalJoin, q33NearestRow, q34AsofJoin, q35Ffill, q125AsofExec,
    q161Attribution,
    q36ButterLowpass, q37ButterBandpass, q38SavgolExact, q61EpisodeOverlay,
    q62ResampleFrame, q65InterpolateNearest, q66InterpolateCubic,
    q147InterpolateQuadratic, q148InterpolateZero,
    q106PathTransitions, q110Ewma, q111Decimate, q132Goertzel, q180KalmanLevel,
    q136NativeSession, q140OhlcBars)
}
