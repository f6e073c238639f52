package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

/** Trial ingest — the reference's CSV load + heuristic schema
  * classification pipeline (S1–S4, S9 in SURVEY.md §2.1):
  * `DataModel.load_csv` (/root/reference/data_model.py:64-126).
  *
  * Production path at scale is partitioned Parquet; CSV ingest keeps
  * the reference's exact normalization semantics for interchange.
  */
object TrialReader {

  /** Heuristic column classification (data_model.py:84-103). */
  final case class TrialSchema(timeCol: Option[String], signalCols: Seq[String],
      metadataCols: Seq[String])

  /** S1: header CSV scan; `""`/`"nan"`/`"NaN"` → null
    * (data_model.py:64-82) — pandas represents all three as NaN/null,
    * and Spark distinguishes NaN from null, so parsed NaNs are
    * normalized to null to keep the reference's ignore-null window
    * semantics. One file or a glob of many.
    */
  def loadCsv(spark: SparkSession, paths: String*): DataFrame = {
    val raw = spark.read
      .option("header", true)
      .option("inferSchema", true)
      .option("nanValue", "nan")
      .csv(paths: _*)
    // one projection, not one withColumn (and one analysis) per column
    raw.select(raw.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c).as(f.name)
        case _ => c
      }
    }: _*)
  }

  /** S9: multi-trial overlay read — N trial files stacked with a
    * `trial_id` discriminator (dialogs.py:647-661).
    */
  def loadTrials(spark: SparkSession, paths: Seq[String]): DataFrame =
    loadCsv(spark, paths: _*)
      .withColumn("trial_id", input_file_name())

  /** S2: time/signal/metadata split (data_model.py:84-103): prefer
    * exact `normalized_time`, else first column whose lowercase name
    * contains "time"; numeric → signal, other → metadata.
    */
  def classify(df: DataFrame): TrialSchema = {
    val names = df.columns.toSeq
    val time = names.find(_ == "normalized_time")
      .orElse(names.find(_.toLowerCase.contains("time")))
    val rest = names.filterNot(time.contains)
    val (signals, meta) = rest.partition { n =>
      df.schema(n).dataType match {
        case _: NumericType => true
        case _ => false
      }
    }
    TrialSchema(time, signals, meta)
  }

  /** S3: ensure `is_bad_segment`; fabricate `normalized_time =
    * (row_number-1)/fs` when no time column exists
    * (data_model.py:105-114).
    */
  def ensureBadMaskAndTime(df: DataFrame, schema: TrialSchema,
      trialCol: Option[String], fallbackFs: Double = 120.0): DataFrame = {
    val withMask =
      if (df.columns.contains("is_bad_segment")) df
      else df.withColumn("is_bad_segment", lit(false))
    schema.timeCol match {
      case Some(_) => withMask
      case None =>
        val w = trialCol.map(c => Window.partitionBy(col(c)))
          .getOrElse(Window.partitionBy())
          .orderBy(monotonically_increasing_id())
        withMask.withColumn("normalized_time",
          (row_number().over(w) - 1).cast("double") / fallbackFs)
    }
  }

  /** S4: sample-rate inference `round(1/median(positive Δt), 2)`,
    * fallback 120 Hz (data_model.py:116-126) — exact interpolating
    * median over the positive time deltas of ONE trial.
    */
  def inferSampleRate(df: DataFrame, timeCol: String): Double = {
    val w = Window.partitionBy().orderBy(col(timeCol))
    // one trial: colocated without a shuffle (Series.colocate)
    val dts = df.coalesce(1)
      .withColumn("__dt", col(timeCol) - lag(col(timeCol), 1).over(w))
      .filter(col("__dt") > 0)
    // one job: the median of no deltas is null, which falls back too
    val row = dts.agg(percentile(col("__dt"), lit(0.5))).head()
    val med = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (med > 0) math.rint(100.0 / med) / 100.0 else 120.0
  }

  /** S4, multi-trial batch: the reference infers fs PER TRIAL
    * (data_model.py:116-126 runs on each loaded frame), so a stacked
    * overlay read needs one rate per key — a per-key median over the
    * positive Δt, the same aggregation shape as the oracle-checked
    * q49. Trials without positive deltas fall back to 120 Hz.
    */
  def inferSampleRates(df: DataFrame, timeCol: String, trialCol: String): DataFrame = {
    val w = Window.partitionBy(col(trialCol)).orderBy(col(timeCol))
    df.withColumn("__dt", col(timeCol) - lag(col(timeCol), 1).over(w))
      .filter(col("__dt") > 0)
      .groupBy(col(trialCol))
      .agg(percentile(col("__dt"), lit(0.5)).as("__med"))
      .select(col(trialCol),
        // bround = HALF_EVEN, matching Python round() / math.rint in
        // the scalar path (reference data_model.py:126)
        when(col("__med") > 0, bround(lit(1.0) / col("__med"), 2))
          .otherwise(lit(120.0)).as("fs_hz"))
  }

  /** Channel grouping by name substrings (data_model.py:310-357) —
    * driver-side metadata only, first match wins.
    */
  def channelGroups(columns: Seq[String]): Map[String, Seq[String]] = {
    // body-part rules run before "head", because "heading" contains
    // it as a substring (foot/chest/chair channels are *_heading_deg)
    val rules: Seq[(String, String => Boolean)] = Seq(
      "Gaze" -> (n => n.contains("gaze") || n.contains("fixation")),
      "Chest" -> (_.contains("chest")),
      "Feet" -> (n => n.contains("foot") || n.contains("feet")),
      "Chair" -> (_.contains("chair")),
      "Workspace" -> (_.contains("workspace")),
      "Screen" -> (n => n.contains("screen") || n.contains("bearing")),
      "Head" -> (_.startsWith("head")),
      "Position" -> (n => n.contains("position") || n.contains("_x") ||
        n.contains("_y") || n.contains("_z")),
      "Orientation" -> (n => n.contains("heading") || n.contains("angle") ||
        n.contains("deg") || n.contains("quat")),
      "Fixation" -> (_.contains("fix")))
    val grouped = columns.map { c =>
      val lc = c.toLowerCase
      rules.find(_._2(lc)).map(_._1).getOrElse("Other") -> c
    }
    grouped.groupBy(_._1).map { case (g, cs) => g -> cs.map(_._2) }
  }

  /** S5: clean sink (data_model.py:252-257) — header CSV, one file
    * per trial-partition at small scale, Parquet at production scale.
    */
  def saveClean(df: DataFrame, path: String, singleFile: Boolean = true): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", true).csv(path)
}
