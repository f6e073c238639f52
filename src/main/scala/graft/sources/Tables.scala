package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table catalog over a scale-factor directory
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-parquet scans on a real
  * cluster; every accessor is a plain `spark.read.parquet` so that
  * Catalyst's column pruning + predicate pushdown reach the files
  * untouched. No caching here — the callers decide what to persist.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 rejects by
    * default — we read it as a raw nanosecond long via `nanosAsLong`)
    * and TIMESTAMP_MICROS with isAdjustedToUTC=0 (which Spark reads as
    * TIMESTAMP_NTZ). [[normalizeEventTs]] canonicalizes both to the
    * engine's internal axis: epoch **nanoseconds** as `LongType`.
    * DuckDB truncates the nanos column to microseconds on read, so the
    * canonical time axis below floors ns → µs to stay bit-identical.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    requireNanosConf(spark)
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** The nanos read setting is session-wide, so it is pinned at
    * session BUILD ([[graft.api.Graft.sparkSession]] and every main
    * set it); a table accessor mutating session conf would be a
    * global side effect hidden inside a read. This assert turns a
    * forgotten config into a loud, actionable failure instead of an
    * opaque parquet conversion error mid-scan.
    */
  private def requireNanosConf(spark: SparkSession): Unit =
    require(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "set spark.sql.legacy.parquet.nanosAsLong=true when building the session " +
        "(graft.api.Graft.sparkSession does): events.parquet may carry TIMESTAMP(NANOS), " +
        "which Spark 4 otherwise rejects at scan time")

  /** Canonicalize the `ts` column to epoch-nanoseconds `LongType`
    * regardless of the file's physical encoding. Works on both batch
    * and streaming DataFrames, so every `readStream` path reuses it.
    *
    * The NTZ branch extracts the stored micros with a cast whose
    * zone is pinned to UTC at construction
    * ([[org.apache.spark.sql.graftshim.NtzMicros]]) — independent of
    * `spark.sql.session.timeZone` for EVERY wall time. The two
    * SQL-level alternatives both fail: `to_utc_timestamp` shifts by
    * the session-zone offset outright, and an NTZ `timestampdiff`
    * from the epoch cancels the offset for ordinary wall times but
    * corrupts wall times inside the session zone's DST
    * spring-forward gap (+1h — the session-zone ntz→timestamp
    * coercion maps nonexistent local times forward). `unix_micros`
    * on a true TimestampType is instant-based and already zone-free.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df // already epoch-ns (nanosAsLong path)
      case Some(TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.graftshim.NtzMicros.ntzEpochMicros(col("ts")) * lit(1000L))
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(other) =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported physical type $other; expected int64-ns, timestamp-µs (NTZ) or timestamp-µs (UTC)")
    }
  }

  /** Raw (un-normalized) file schema for `events`, for streaming
    * sources that must declare the on-disk schema to `readStream`
    * before [[normalizeEventTs]] runs on the stream.
    */
  def rawEventsSchema(spark: SparkSession, dir: String, glob: String = "events.parquet")
      : org.apache.spark.sql.types.StructType = {
    requireNanosConf(spark)
    spark.read.option("pathGlobFilter", glob).parquet(dir).schema
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Canonical time-series view of `events`: the engine's "trial"
    * substrate. `user_id` plays the reference's trial axis
    * (one independent series per user — SURVEY.md §2 "series-scope"),
    * `t` is a double seconds axis like the reference's
    * `normalized_time` (/root/reference/data_model.py:85-91).
    *
    * `t` is derived from microseconds since epoch so the Spark and
    * DuckDB sides compute bit-identical doubles (both floor parquet
    * ns → µs, both do int64→double→÷1e6). Ordering ties are broken by
    * `event_id` so every window is total-ordered and deterministic.
    */
  def series(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("user_id"),
      col("event_id"),
      (expr("ts div 1000") / lit(1e6)).as("t"),
      col("value"),
      col("event_type"))

  /** SQL fragment producing the identical series view in DuckDB. */
  val seriesSql: String =
    "SELECT user_id, event_id, epoch_us(ts) / 1000000.0 AS t, value, event_type FROM events"

  /** Series with a per-user zero-based time axis `tn` (seconds since
    * the user's first event). Computed with a window min so it stays
    * one pass; at scale this is a single shuffle by user_id that all
    * downstream per-series ops reuse.
    */
  def seriesNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    series(spark, dir).withColumn("tn", col("t") - min("t").over(w))
  }

  val seriesNormSql: String =
    s"SELECT *, t - min(t) OVER (PARTITION BY user_id) AS tn FROM ($seriesSql)"

  /** Scale-adaptive map-side spread for heavy per-row kernels (guide
    * §2.5 "input skew: one huge unsplittable file → repartition
    * immediately after the read"). At bench scale `documents` /
    * `embeddings` are single-row-group parquet files, so the scan
    * yields ONE task and every tokenize/shingle/md5/Lloyd-distance
    * kernel downstream runs serially on one core (BENCH_DIAG: wall ≈
    * taskCpu for the whole span-census family). When the scan plan
    * carries fewer partitions than the session has cores, hash-
    * repartition by `key` so the per-row CPU spreads; when it already
    * carries ≥ cores partitions — every real-scale scan — this is the
    * identity and NO shuffle is added. The shuffle moved at bench
    * scale is the sub-MB source relation itself, paid once per query
    * before the kernel. Hash partitioning by a real key (not round-
    * robin) keeps row placement deterministic under task retry.
    * Batch-only: streaming plans keep their source partitioning.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // physical-plan partition count of the (scan) subtree — computed
    // at plan-build time, no job runs
    val parts = df.rdd.getNumPartitions
    if (parts < cores) df.repartition(cores, col(key)) else df
  }
}
