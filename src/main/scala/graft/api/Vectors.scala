package graft.api

import graft.functions.VectorMath
import graft.operators.BoundedPairs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedDataset

/** Public DataFrame-level embedding/similarity API — the shapes the
  * declared queries (q45–q48, q67–q68) exercise, exposed as
  * composable stages for library users.
  *
  * Input contract: a relation with `vec_id` (long, unique) and
  * `embedding` (`array<float>`). Dot products fold left in doubles so
  * results are deterministic under any partitioning.
  *
  * Scale shapes: query sides broadcast; candidate generation is
  * bucket- or list-keyed equi-joins (never all-pairs); assignment
  * stages are per-row codebook scans over broadcast-size centroid
  * sets (no explode, no window).
  */
object Vectors {

  private def bridge(e: Column) =
    org.apache.spark.sql.GraftExpressionBridge.expression(e)
  private def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftExpressionBridge.column(e)

  private def dotSql(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)),
       |  cast(0 as double), (s, x) -> s + x)""".stripMargin

  private def normSql(a: String): String =
    s"""aggregate($a, cast(0 as double),
       |  (s, x) -> s + cast(x as double) * cast(x as double))""".stripMargin

  /** Cosine similarity of two `array<float>` columns (left-fold). */
  /** Per-vector simplified silhouette of the trained k-means
    * clustering over a scale-factor dir (q200).
    */
  def silhouette(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.q200Silhouette.fn(spark, dir)

  def cosine(a: String, b: String): Column =
    expr(dotSql(a, b)) / (sqrt(expr(normSql(a))) * sqrt(expr(normSql(b))))

  /** Exact cosine top-k: for each query row, the k nearest corpus
    * rows (queries broadcast; one corpus scan — the baseline every
    * ANN variant is judged against). Returns
    * `(q_id, vec_id, cos_sim, rank)`.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(cosine("qe", "embedding"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "cos_sim", "rank")
  }

  /** Add the 8-bit random-hyperplane LSH `bucket` (q46) — a native
    * per-row loop over the shared plane constants; candidate
    * generation is then an equi-join on `bucket`.
    */
  def hyperplaneBuckets(df: DataFrame): DataFrame =
    df.withColumn("bucket", colOf(graft.functions.HyperplaneBucket(
      bridge(col("embedding")), VectorMath.planes.map(_.map(_.toDouble)))))

  /** Bucket-restricted near-duplicate pairs (q48): only rows sharing
    * a hyperplane bucket are compared; pairs at or above `minCos`
    * survive. Returns `(vec_a, vec_b, cos_sim)`.
    *
    * `cellTarget` picks the [[graft.operators.BoundedPairs]] mode:
    * `Some(t)` is `Cells(t)`, within-cell pairs of `ceil(|bucket|/t)`
    * md5 cells per bucket, n·t work but cross-cell pairs skipped once
    * a bucket outgrows `t`; `None` is `Exact`, every within-bucket pair
    * (hot buckets block-joined), Θ(Σ|bucket|²) work, the quadratic
    * blowup a skewed 100 TB bucket hits. The default is the declared
    * q48 bound ([[graft.operators.Similarity.NearDupCellTarget]]), the
    * same default [[nearDupCellAudit]] reports on, so the no-argument
    * audit shows whether the no-argument scan skipped pairs.
    */
  def nearDupPairs(df: DataFrame, minCos: Double = 0.999,
      cellTarget: Option[Long] =
        Some(graft.operators.Similarity.NearDupCellTarget)): DataFrame = {
    val bk = hyperplaneBuckets(df).select("bucket", "vec_id", "embedding").scopedPersist()
    val mode = cellTarget.fold[BoundedPairs.Mode](BoundedPairs.Exact())(BoundedPairs.Cells(_))
    BoundedPairs(bk, Seq("bucket"), "vec_id", Seq("embedding"), mode)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"),
        round(cosine("embedding_a", "embedding_b"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Per-bucket cell-bound observability for [[nearDupPairs]] /
    * q48-class scans: each LSH bucket's row count `n` and its md5 cell
    * count `n_cells` ([[graft.operators.BoundedPairs.cellCount]], the
    * count the `Cells` scan applies). `n_cells > 1` means the bound is
    * ENGAGED there and cross-cell pairs are skipped (recall < 1); all-1
    * means the result equals the `Exact` scan. One projection and a
    * ≤256-row aggregate, safe to run ahead of any production scan.
    */
  def nearDupCellAudit(df: DataFrame,
      cellTarget: Long = graft.operators.Similarity.NearDupCellTarget): DataFrame =
    hyperplaneBuckets(df)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("n_cells", BoundedPairs.cellCount("n", cellTarget))
      .withColumn("cell_bound_engaged", col("n_cells") > 1)

  /** Assign each row its nearest coarse centroid(s): argmin L2 over a
    * driver-side codebook via the native per-row scan (q67's shape —
    * no explode, no window). `nprobe = 1` adds `list_id`; larger
    * `nprobe` adds a `list_ids` array (the multi-probe query side).
    */
  def ivfAssign(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
      nprobe: Int = 1): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val nearest = colOf(graft.functions.NearestCentroids(
      bridge(col("embedding")), sorted.map(_._1), sorted.map(_._2), nprobe))
    if (nprobe == 1) df.withColumn("list_id", element_at(nearest, 1))
    else df.withColumn("list_ids", nearest)
  }

  /** IVF imbalance-factor audit (q245's shape over a caller-supplied
    * codebook): γ_ppm = K·Σnᵢ²·10⁶ div N² plus the list-size extremes,
    * one row. γ/K is the expected fraction of the index an nprobe=1
    * query scans — run this before trusting any probe-cost budget, and
    * re-train the codebook when γ drifts up. One [[ivfAssign]] scan +
    * one K-row aggregate + one 1-row rollup.
    */
  def ivfImbalance(df: DataFrame, centroids: Seq[(Long, Seq[Float])]): DataFrame =
    ivfAssign(df, centroids)
      .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
      .agg(sum("n_vecs").as("n"), count(lit(1)).as("n_lists_used"),
        max("n_vecs").as("max_list"), min("n_vecs").as("min_list"),
        sum(expr("n_vecs * n_vecs")).as("s2"))
      .select(lit(centroids.size.toLong).as("k"), col("n"),
        col("n_lists_used"), col("max_list"), col("min_list"),
        expr(s"${centroids.size}L * s2 * 1000000L div (n * n)").as("gamma_ppm"))
}
