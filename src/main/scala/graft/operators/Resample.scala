package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Resampling onto a uniform grid (reference W11,
  * filter_engine.py:80-84, 148-170) and the general as-of pattern it
  * is built from.
  *
  * Strategy ("union, then interpolate"): instead of a range join
  * (which Catalyst would plan as a broadcast nested-loop join), probe
  * points and samples are unioned into ONE ordered stream per series
  * in which every probe value is null, and the probes are then filled
  * by [[SeriesOps.interpolate]] like any other gap. Its bracket kernel
  * is two running windows, the second over the reversed sort: one
  * shuffle by series key and two in-partition sorts per pass,
  * O(n log n) per series, whatever the channel count. The union
  * reuses the partitioning every other series op uses, so this is the
  * scale-safe shape for as-of joins with high-cardinality keys;
  * DuckDB's native ASOF JOIN is the same idea.
  */
object Resample {

  import SeriesOps.Series

  /** Per-series uniform probe grid `{0, step, …, ≤ max(t)}` — one
    * `sequence`+`explode` per series, built from a single agg pass.
    */
  def uniformGrid(samples: DataFrame, s: Series, step: Double): DataFrame = {
    val keys = s.keyCols.map(col)
    samples.groupBy(keys: _*).agg(max(col(s.timeCol)).as("__mt"))
      .select((keys :+ explode(sequence(lit(0L), floor(col("__mt") / step).cast("long"))).as("__i")): _*)
      .withColumn(s.timeCol, col("__i") * lit(step))
      .drop("__i")
  }

  /** Samples (`__g` = 0) and probes (`__g` = 1) as one stream per
    * series: keys, time, `__g`, the named sample `cols` (null on probe
    * rows), then null-safe tie-break columns `__ord_i` (probes: -1).
    * Returns the union and the series that orders it by
    * `(time, __g, __ord_i…)`: at equal times samples sort before
    * probes, so a probe exactly on a sample brackets that sample
    * (np.interp semantics).
    */
  private def withProbes(samples: DataFrame, probes: DataFrame, s: Series,
      cols: Seq[Column]): (DataFrame, Series) = {
    val head = s.keyCols.map(col) :+ col(s.timeCol)
    val ords = s.tieCols.indices.map(i => s"__ord_$i")
    val sPart = samples.select((head :+ lit(0).as("__g")) ++ cols ++
      s.tieCols.zip(ords).map { case (c, o) => col(c).as(o) }: _*)
    val pPart = probes.select((head :+ lit(1).as("__g")) ++
      sPart.schema.fields.drop(head.size + 1).map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    val union = sPart.unionAll(pPart)
      .withColumns(ords.map(o => o -> coalesce(col(o), lit(-1L))).toMap)
    (union, Series(s.keyCols, s.timeCol, "__g" +: ords))
  }

  /** Linear interpolation of each `values` column (cast to double) at
    * the probe times, and each `labelCols` column's first non-null value
    * in time order; one row per probe: keys, time, then one column per
    * `values ++ labelCols`, in that order. Probe values are null, so
    * [[SeriesOps.interpolate]] yields `np.interp`: the lerp between the
    * bracketing samples, ends clamped (filter_engine.py:165).
    */
  private def lerpOnto(samples: DataFrame, probes: DataFrame, s: Series,
      values: Seq[String], labelCols: Seq[String]): DataFrame = {
    val (union, us) = withProbes(samples, probes, s,
      values.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__v_$i") } ++
        labelCols.map(col))
    // labels first: this window sorts like the kernel's ascending one,
    // so the pass keeps two sorts
    val whole = us.ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val labeled = union.select(col("*") +: labelCols.zipWithIndex.map { case (c, j) =>
      first(col(c), ignoreNulls = true).over(whole).as(s"__o_${values.size + j}")
    }: _*)
    SeriesOps.interpolate(labeled, us, "linear", values.indices.map(i => s"__v_$i" -> s"__o_$i"))
      .filter(col("__g") === 1)
      .select((s.keyCols :+ s.timeCol).map(col) ++
        (values ++ labelCols).indices.map(i => col(s"__o_$i")): _*)
  }

  /** `np.interp`-style linear resample of `value` onto the uniform
    * per-series grid `{0, step, 2·step, … ≤ max(t)}`, ends clamped to
    * the nearest sample (filter_engine.py:165). Returns one row per
    * grid point: series keys + `timeCol` (grid time) + `out`.
    */
  def toUniformGrid(samples: DataFrame, s: Series, value: String, out: String,
      step: Double): DataFrame =
    interpolateAt(samples, uniformGrid(samples, s, step), s, value, out)

  /** Linear interpolation of `value` at each probe row's time. The
    * probe side must have the series keys + time column; a probe
    * exactly on a sample returns that sample's value (np.interp
    * semantics).
    */
  def interpolateAt(samples: DataFrame, probes: DataFrame, s: Series, value: String,
      out: String): DataFrame =
    lerpOnto(samples, probes, s, Seq(value), Nil).toDF(s.keyCols :+ s.timeCol :+ out: _*)

  /** Full-frame resample (reference W11, filter_engine.py:148-170):
    * every numeric channel is linearly interpolated onto the uniform
    * grid, boolean flags are interpolated then re-binarized at > 0.5
    * (filter_engine.py:168-169), and label columns collapse to the
    * series' first value in time order (filter_engine.py:166-167) —
    * ALL in one union-and-window pass (one shuffle total, not one per
    * column).
    */
  def resampleFrame(samples: DataFrame, s: Series, numericCols: Seq[String],
      flagCols: Seq[String], labelCols: Seq[String], step: Double): DataFrame =
    lerpOnto(samples, uniformGrid(samples, s, step), s, numericCols ++ flagCols, labelCols)
      .toDF(s.keyCols ++ (s.timeCol +: numericCols) ++ flagCols ++ labelCols: _*)
      .withColumns(flagCols.map(c => c -> (col(c) > 0.5)).toMap)

  /** Backward as-of join: for each probe row, the latest non-null
    * sample value at-or-before its time (per series) — the union with
    * the previous bracket only, i.e. a forward fill.
    */
  def asofBackward(samples: DataFrame, probes: DataFrame, s: Series, value: String,
      out: String): DataFrame = {
    val (union, us) = withProbes(samples, probes, s, Seq(col(value).as("__v")))
    SeriesOps.ffill(union, us, "__v", out)
      .filter(col("__g") === 1)
      .select((s.keyCols :+ s.timeCol :+ out).map(col): _*)
  }
}
