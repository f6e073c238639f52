package graft.operators

import graft.QueryDef
import graft.functions.VectorMath
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedDataset

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim).
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast,
  * so the scan side streams once with no shuffle until the final
  * per-query top-k (a window over q_id). Scale path: random-
  * hyperplane LSH — each vector gets an 8-bit bucket from sign(w·v)
  * (a per-row projection, zero shuffle), and search joins only within
  * a bucket: candidate count drops ~2^8 while the join stays a plain
  * hash equi-join on the bucket key.
  *
  * All dot products fold left in doubles (`aggregate`/`zip_with`), so
  * results are deterministic and bit-identical to the DuckDB oracle's
  * `list_reduce`/`list_transform` evaluation.
  */
object Similarity {

  import VectorMath._

  /** Left-fold dot product of two float-array SQL expressions. */
  private def dotSql(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)),
       |  cast(0 as double), (s, x) -> s + x)""".stripMargin

  private def normSql(a: String): String =
    s"""aggregate($a, cast(0 as double),
       |  (s, x) -> s + cast(x as double) * cast(x as double))""".stripMargin

  // Native (one primitive loop per row) forms of the fold-left dot /
  // norm / integer-L2 compositions — bit-identical values by
  // construction (see graft.functions.VectorExprs scaladoc); the HOF
  // forms above pay an interpreted lambda frame per ELEMENT per
  // candidate row, which dominated the ANN/Lloyd scans' CPU.
  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftExpressionBridge.expression(c)
  private def dotCol(a: Column, b: Column): Column =
    bridge(graft.functions.FloatDot(ex(a), ex(b)))
  private def normCol(a: Column): Column =
    bridge(graft.functions.FloatNormSq(ex(a)))
  private[operators] def l2Col(a: Column, b: Column): Column =
    bridge(graft.functions.LongL2Sq(ex(a), ex(b)))
  private def dotLongCol(a: Column, b: Column): Column =
    bridge(graft.functions.LongDot(ex(a), ex(b)))
  private def subArrCol(a: Column, b: Column): Column =
    bridge(graft.functions.LongSub(ex(a), ex(b)))

  /** Micro-quantization of a float vector column (the q105
    * convention) — the one shared expression every integer chain
    * derives `qe` from. */
  private def quantizeCol(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1e6).cast("long"))

  /** Driver-collected (id → quantized vector) pairs of a bounded
    * relation, id-ascending — the residual chains' coarse-centroid
    * lookup as a literal map instead of a broadcast join. */
  private def collectIdVecs(df: DataFrame, idCol: String): Seq[(Long, Seq[Long])] =
    df.select(col(idCol), col("qe")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform($a, (x, i) -> x::DOUBLE * $b[i]::DOUBLE), (s, x) -> s + x)"

  private def duckNorm(a: String): String =
    s"list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (s, x) -> s + x)"

  /** 8-bit random-hyperplane bucket of an embedding column — native
    * [[graft.functions.HyperplaneBucket]] (one double loop per row
    * instead of 8 interpreted zip_with/aggregate dot products).
    */
  private def bucketCol: Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.HyperplaneBucket(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("embedding")),
        planes.map(_.map(_.toDouble))))

  /** DuckDB CTE: vec_id → 8-bit hyperplane bucket.
    *
    * The plane literal is materialized ONCE into an 8-row `pl` CTE
    * rather than indexed inside the per-element lambda: DuckDB
    * re-evaluates `(LIT)[p+1]` for every (row, plane, element), which
    * made each consumer of this CTE cost ~50-60 s of pure oracle time
    * at sf0.01 (measured; the hoisted form is 0.1 s). The arithmetic
    * is unchanged — same per-element products, same left-fold order —
    * so the result stays bit-identical (verified: identical rows).
    */
  private val duckBuckets =
    s"""pl AS (SELECT p, ($planesDuckLit)[p + 1] AS w
       |  FROM range(0, $NumPlanes) t(p)),
       |bk AS (
       |  SELECT vec_id, embedding,
       |    sum(CASE WHEN list_reduce(
       |        list_transform(embedding, (x, i) -> x::DOUBLE * w[i]),
       |        (s, x) -> s + x) > 0
       |      THEN 1::BIGINT << p ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings, pl
       |  GROUP BY vec_id, embedding)""".stripMargin

  /** Brute-force cosine top-5 neighbors for query vectors
    * (vec_id < 10) — the exact baseline every ANN variant is judged
    * against.
    */
  val q45CosineTopK: QueryDef = QueryDef.sql(
    "q45_cosine_topk",
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT q_id, vec_id,
       |    round(${duckDot("qe", "embedding")} /
       |      (sqrt(${duckNorm("qe")}) * sqrt(${duckNorm("embedding")})), 6) AS cos_sim
       |  FROM q, embeddings WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, vec_id, cos_sim, rank FROM r WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(
        dotCol(col("qe"), col("embedding")) /
          (sqrt(normCol(col("qe"))) * sqrt(normCol(col("embedding")))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Random-hyperplane LSH bucket assignment — the per-row, shuffle-
    * free bucketing step of the ANN scale path.
    */
  val q46AnnBuckets: QueryDef = QueryDef.sql(
    "q46_ann_buckets",
    s"""WITH $duckBuckets
       |SELECT vec_id, bucket FROM bk ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), bucketCol.as("bucket"))
      .orderBy("vec_id")
  }

  /** Bucketed ANN top-3: cosine search restricted to the query's LSH
    * bucket — the join is an equi-join on (bucket), never all-pairs.
    */
  val q47AnnTopK: QueryDef = QueryDef.sql(
    "q47_ann_topk",
    s"""WITH $duckBuckets,
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM bk WHERE vec_id < 10),
       |c AS (SELECT q.q_id, bk.vec_id,
       |    round(${duckDot("qe", "bk.embedding")} /
       |      (sqrt(${duckNorm("qe")}) * sqrt(${duckNorm("bk.embedding")})), 6) AS cos_sim
       |  FROM q JOIN bk ON bk.bucket = q.bucket AND bk.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, vec_id, cos_sim, rank FROM r WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val bk = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketCol.as("bucket"))
      .scopedPersist() // probed twice: query side and candidate side
    val q = bk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    bk.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(
        dotCol(col("qe"), col("embedding")) /
          (sqrt(normCol(col("qe"))) * sqrt(normCol(col("embedding")))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Embedding-cosine near-dup detection: bucket-restricted pair
    * scan, pairs above the cosine threshold collapse to the lower
    * vec_id (the dedup "keep" rule). The threshold is a parameter;
    * 0.3 yields verifiable pairs on the synthetic corpus (random
    * embeddings have no true near-dups — max pairwise cosine ≈ 0.48).
    */
  /** Per-bucket md5-cell size bound for q48 (see [[nearDupQuery]]). */
  val NearDupCellTarget = 512L

  val q48EmbeddingNearDup: QueryDef =
    nearDupQuery("q48_embedding_neardup", NearDupCellTarget)

  /** q240: q48 with the cell target forced to 16 so B > 1 at every
    * oracle scale — the cross-engine exercise of the md5 sub-cell
    * assignment, exactly q239's role for q155. */
  val q240NearDupCells: QueryDef =
    nearDupQuery("q240_neardup_cells", 16L)

  /** q48/q240 builder. The fixed 8-bit LSH bucket alone leaves an
    * n²/256 pair scan (measured exp 1.6 on the honest sf1 fixture),
    * so buckets sub-split into md5 CELLS of ≤ `cellTarget` vectors
    * ([[BoundedPairs.Cells]]) — the q155 bound: pair work
    * ≤ n·cellTarget, LINEAR at fixed target. B = ⌈|bucket|/512⌉ = 1
    * at every fixture scale (max bucket ~78 at sf1), so q48's output
    * is unchanged there; the documented recall trade (cross-cell
    * pairs in a hot bucket are skipped) only engages at the scales
    * where the quadratic would otherwise kill the query. Norms precompute per ROW (the
    * interpreted higher-order fold per PAIR tripled the scan:
    * 42 s → 14 s at sf1; sqrt of the same double is bit-identical).
    */
  private def nearDupQuery(name: String, cellTarget: Long): QueryDef = {
    val threshold = 0.3
    val tgt = cellTarget
    QueryDef.sql(
      name,
      s"""WITH $duckBuckets,
         |sz AS (SELECT bucket, count(*) AS bn FROM bk GROUP BY bucket),
         |bc AS (SELECT b.vec_id, b.bucket, b.embedding,
         |    ${graft.functions.TextHash.duckBase32("b.vec_id::VARCHAR")}
         |      % ((s.bn + ${tgt - 1}) // $tgt) AS cell
         |  FROM bk b JOIN sz s ON s.bucket = b.bucket),
         |p AS (SELECT x.vec_id AS keep_id, y.vec_id AS dup_id,
         |    round(${duckDot("x.embedding", "y.embedding")} /
         |      (sqrt(${duckNorm("x.embedding")}) * sqrt(${duckNorm("y.embedding")})), 6) AS cos_sim
         |  FROM bc x JOIN bc y ON x.bucket = y.bucket AND x.cell = y.cell
         |    AND x.vec_id < y.vec_id)
         |SELECT keep_id, dup_id, cos_sim FROM p WHERE cos_sim >= $threshold
         |ORDER BY keep_id, dup_id""".stripMargin) { (spark, dir) =>
      val bk = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), bucketCol.as("bucket"))
        .scopedPersist()
      BoundedPairs(bk.withColumn("nrm", sqrt(normCol(col("embedding")))),
          Seq("bucket"), "vec_id", Seq("embedding", "nrm"), BoundedPairs.Cells(tgt))
        .select(col("vec_id_a").as("keep_id"), col("vec_id_b").as("dup_id"),
          round(dotCol(col("embedding_a"), col("embedding_b")) /
            (col("nrm_a") * col("nrm_b")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
        .orderBy("keep_id", "dup_id")
    }
  }

  // ---------------- IVF (inverted-file) variant ----------------
  // Coarse quantizer: K fixed centroids (the first K vectors by id —
  // deterministic, no training job needed for the plumbing; swapping
  // in k-means centroids changes only this CTE/table). Assignment =
  // argmin L2; search probes the query's nearest `nprobe` lists.

  private[graft] val NumCentroids = 16
  private[graft] val NProbe = 2

  private[graft] def duckL2(a: String, b: String): String =
    s"""list_reduce(list_transform($a, (x, i) -> (x::DOUBLE - $b[i]::DOUBLE)
       |  * (x::DOUBLE - $b[i]::DOUBLE)), (s, x) -> s + x)""".stripMargin

  private[graft] val duckCentroids =
    s"cent AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id < $NumCentroids)"

  /** Collect the coarse-quantizer codebook to the driver (IVF
    * codebooks are small by construction — K centroids, here the
    * first K vectors by id) and return the native per-row
    * nearest-centroid expression over it. This replaces an exploded
    * crossJoin + WindowExec argmin (K× row blow-up, then a window
    * over N single-vector partitions) with one narrow projection —
    * the assignment stage at 100 TB is a full-scan map, no shuffle.
    */
  private[graft] def nearestCol(spark: SparkSession, dir: String, nprobe: Int,
      embCol: Column): Column =
    nearestColFrom(Tables.embeddings(spark, dir), nprobe, embCol)

  /** [[nearestCol]] over an explicit embedding relation (streaming
    * callers read their codebook through a file glob, not the
    * canonical table path).
    */
  private[graft] def nearestColFrom(emb: DataFrame, nprobe: Int,
      embCol: Column): Column = {
    val rows = emb
      .filter(col("vec_id") < NumCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0)).toSeq
    val cents = rows.map(_.getSeq[Float](1).toSeq).toSeq
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.NearestCentroids(
        org.apache.spark.sql.GraftExpressionBridge.expression(embCol),
        ids, cents, nprobe))
  }

  /** IVF list assignment: each vector's nearest coarse centroid
    * (argmin L2, ties → lower centroid id) as a per-row codebook
    * scan — one narrow pass over the corpus, zero shuffle.
    */
  val q67IvfAssign: QueryDef = QueryDef.sql(
    "q67_ivf_assign",
    s"""WITH $duckCentroids,
       |d AS (SELECT e.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c)
       |SELECT vec_id, c_id AS list_id FROM d WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"))
      .orderBy("vec_id")
  }

  /** IVF top-3 search: queries probe their 2 nearest lists only —
    * candidate set shrinks by ~K/nprobe while staying an equi-join
    * on list_id.
    */
  val q68IvfTopK: QueryDef = QueryDef.sql(
    "q68_ivf_topk",
    s"""WITH $duckCentroids,
       |asg AS (SELECT vec_id, c_id AS list_id, embedding FROM (
       |  SELECT e.vec_id, c.c_id, e.embedding,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1),
       |qp AS (SELECT q_id, qe, c_id AS list_id FROM (
       |  SELECT e.vec_id AS q_id, e.embedding AS qe, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c WHERE e.vec_id < 10) WHERE rn <= $NProbe),
       |c AS (SELECT qp.q_id, a.vec_id,
       |    round(${duckDot("qp.qe", "a.embedding")} /
       |      (sqrt(${duckNorm("qp.qe")}) * sqrt(${duckNorm("a.embedding")})), 6) AS cos_sim
       |  FROM qp JOIN asg a ON a.list_id = qp.list_id AND a.vec_id <> qp.q_id),
       |r AS (SELECT q_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, vec_id, cos_sim, rank FROM r WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val asg = emb
      .select(col("vec_id"),
        element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
        col("embedding"))
    val qp = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(nearestCol(spark, dir, NProbe, col("embedding"))).as("list_id"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    asg.join(broadcast(qp), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(
        dotCol(col("qe"), col("embedding")) /
          (sqrt(normCol(col("qe"))) * sqrt(normCol(col("embedding")))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Int8 embedding quantization with a rank-distortion report: each
    * vector is scaled to its max-abs and rounded to [-127, 127], the
    * top-5 search runs on the QUANTIZED dot product, and the exact
    * cosine is carried beside the estimate so the distortion is
    * visible row-by-row.
    *
    * This is the 4× memory-compression step a 100 TB ANN index
    * actually deploys: the int8 table (64 bytes + one scale per
    * vector) replaces the float corpus in the scan, and the integer
    * dot product is exact arithmetic — order-insensitive, no float
    * fold at all on the hot path; only the final rescale
    * (scale_a·scale_b/127²) and the carried exact cosine touch
    * doubles, in a fixed expression order shared with the oracle.
    * (Assumes no all-zero vectors, like q45 — the corpus has none.)
    */
  val q91QuantizedTopK: QueryDef = QueryDef.sql(
    "q91_quantized_topk",
    s"""WITH qt AS (SELECT vec_id, embedding,
       |    list_reduce(list_transform(embedding, x -> abs(x::DOUBLE)),
       |      (s, x) -> greatest(s, x)) AS scale,
       |    ${duckNorm("embedding")} AS nrm FROM embeddings),
       |qv AS (SELECT vec_id, embedding, scale, nrm,
       |    list_transform(embedding, x ->
       |      CAST(round(x::DOUBLE / scale * 127.0) AS BIGINT)) AS qe FROM qt),
       |q AS (SELECT vec_id AS q_id, qe AS qqe, scale AS qscale, nrm AS qnrm,
       |    embedding AS qemb FROM qv WHERE vec_id < 10),
       |c AS (SELECT q_id, vec_id,
       |    round(CAST(list_reduce(list_transform(qqe, (x, i) -> x * qe[i]),
       |        (s, x) -> s + x) AS DOUBLE)
       |      / 16129.0 * qscale * scale / (sqrt(qnrm) * sqrt(nrm)), 6) AS est_cos,
       |    round(${duckDot("qemb", "embedding")} /
       |      (sqrt(qnrm) * sqrt(nrm)), 6) AS cos_exact
       |  FROM q, qv WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, est_cos, cos_exact,
       |    row_number() OVER (PARTITION BY q_id ORDER BY est_cos DESC, vec_id) AS rank
       |  FROM c)
       |SELECT q_id, vec_id, est_cos, cos_exact, rank FROM r WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    // scale and qe land in ONE projection with scale also passed
    // through, so CollapseProject cannot inline the max-abs aggregate
    // into the transform lambda (it would re-run per element)
    val qv = Tables.embeddings(spark, dir)
      .withColumn("scale",
        expr("""aggregate(embedding, cast(0 as double),
                |  (s, x) -> greatest(s, abs(cast(x as double))))""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("scale"),
        normCol(col("embedding")).as("nrm"),
        expr("transform(embedding, x -> cast(round(cast(x as double) / scale * 127.0) as bigint))")
          .as("qe"))
      .scopedPersist() // probed twice: query side and candidate side
    val q = qv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qe").as("qqe"),
        col("scale").as("qscale"), col("nrm").as("qnrm"), col("embedding").as("qemb"))
    val w = Window.partitionBy("q_id").orderBy(col("est_cos").desc, col("vec_id"))
    qv.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("est_cos", round(
        dotLongCol(col("qqe"), col("qe"))
          .cast("double") / lit(16129.0) * col("qscale") * col("scale") /
          (sqrt(col("qnrm")) * sqrt(col("nrm"))), 6))
      .withColumn("cos_exact", round(
        dotCol(col("qemb"), col("embedding")) / (sqrt(col("qnrm")) * sqrt(col("nrm"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "vec_id", "est_cos", "cos_exact", "rank")
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------------------------------
  // Integer-exact k-means codebook training (q105).
  // ------------------------------------------------------------------

  /** Cluster count and Lloyd iterations for the trained codebook. */
  val KmeansK = 8
  val KmeansIters = 2

  /** k-means training in EXACT integer arithmetic — the IVF codebook
    * q67/q68 assume is produced upstream, trained here end-to-end:
    * embeddings quantize to micro-unit integers, distances are integer
    * sums of squares, the argmin key packs `(dist, cid)` into one
    * integer (unique → no tie ambiguity), and centroid updates are
    * truncating integer means (`div`, toward-zero on both engines).
    * NOTHING floats until the final report, so two Lloyd iterations
    * from a deterministic seed (the K lowest vec_ids) reproduce
    * bit-identically on any engine, partitioning, or reduction order —
    * float k-means cannot make that guarantee.
    *
    * Scale shape per iteration: one broadcast of K centroid arrays,
    * one scan computing per-row argmin (no explode on the assignment
    * path), one posexplode + hash aggregate for the update — the same
    * two-job Lloyd profile a production trainer runs at 100 TB, with
    * the iteration count fixed and small.
    */
  /** Spark half of the shared k-means stages (see [[duckKmeansIter]]). */
  private[operators] def kmeansQuantized(spark: SparkSession, dir: String): DataFrame =
    // NOT spread (Tables.spread): measured in-JVM A/B — the Lloyd/PQ
    // chains run MANY small jobs against this cache, and 32-partition
    // task overhead costs more than the serial quantize kernel saves
    // (q234 1.85x, q249 1.98x, q105 1.38x worse with spread; the
    // heavy recall audits were neutral at 0.98-1.03)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("qe"))
      .scopedPersist() // scanned once per Lloyd job; harness clears per query

  /** A driver-collected integer codebook: ascending cids and their
    * centroid arrays. K×dims int64s — the same bounded driver fold
    * [[nearestColFrom]] already performs for the coarse quantizer;
    * collecting the TRAINED codebook between Lloyd steps turns every
    * assignment into a narrow zero-shuffle projection (guide §2.4)
    * instead of a K-way centroid join + corpus re-aggregation. At
    * 100 TB the codebook is still K×dims values, so the fold stays
    * bounded by construction.
    */
  private[operators] type Codebook = (Seq[Long], Seq[Seq[Long]])

  /** Seed codebook: the K lowest vec_ids' quantized vectors (cid =
    * rank in vec_id order), collected — K rows. */
  private[operators] def kmeansSeedCents(q: DataFrame): Codebook = {
    val rows = q.orderBy("vec_id").limit(KmeansK).select("qe").collect()
    (rows.indices.map(_.toLong).toSeq, rows.map(_.getSeq[Long](0).toSeq).toSeq)
  }

  /** Per-row argmin assignment against a collected codebook — the
    * q105 packed (dist, cid) tie rule as one native loop. */
  private[operators] def nearestCodeCol(c: Codebook, v: Column): Column =
    bridge(graft.functions.NearestCodeLong(ex(v), c._1, c._2))

  /** Truncating-integer-mean update under a collected codebook: one
    * narrow argmin projection + one (cid, dim)-bounded hash aggregate
    * — no assignment shuffle, no centroid join. Value-identical to
    * the historical crossJoin + min_by + join chain. */
  private[operators] def kmeansUpdateNative(q: DataFrame, c: Codebook): DataFrame =
    q.select(nearestCodeCol(c, col("qe")).as("cid"),
        posexplode(col("qe")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(expr("sum(v) div count(1)").as("cqv"), count(lit(1)).as("n"))

  /** Assemble a collected (cid, dim, cqv) update relation into a
    * [[Codebook]] (K×dims rows — bounded). */
  private def collectCents(u: DataFrame): Codebook = {
    val rows = u.select(col("cid"), col("dim").cast("long").as("dim"),
      col("cqv")).collect()
    val byCid = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    (byCid.map(_._1),
      byCid.map(_._2.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq))
  }

  /** Two Lloyd iterations; the FINAL update stays a lazy relation so
    * q105 can emit it (the intermediate codebook is collected — one
    * bounded driver sync per iteration, exactly the allreduce a
    * production Lloyd runs). */
  private[operators] def kmeansTrainU2(q: DataFrame): DataFrame =
    kmeansUpdateNative(q, collectCents(kmeansUpdateNative(q, kmeansSeedCents(q))))

  /** The trained codebook after two Lloyd iterations, collected. */
  private[operators] def kmeansTrainedCents(q: DataFrame): Codebook =
    collectCents(kmeansTrainU2(q))

  /** The (cid, centroid) pairs of a collected codebook as an
    * exploded-literal relation — replaces the K-row broadcast
    * crossJoin (one Generate over a constant, zero broadcast builds,
    * no nested-loop join). */
  private[operators] def codebookLit(c: Codebook): Column =
    typedlit(c._1.zip(c._2))

  /** One Lloyd iteration in DuckDB: assignment (argmin over the K
    * crossed centroids) then truncating-integer-mean update. Shared
    * by q105 (training) and q200 (silhouette over the trained
    * labels).
    */
  private[operators] def duckKmeansIter(prev: String, asg: String, upd: String,
      cents: String): String =
    s"""$asg AS (SELECT vec_id, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, len(qe)),
       |      i -> (qe[i] - c.cq[i]) * (qe[i] - c.cq[i]))) * $KmeansK + c.cid) AS cid
       |  FROM q CROSS JOIN $prev c GROUP BY vec_id),
       |$upd AS (SELECT a.cid, i AS dim,
       |    CAST(CAST(sum(qe[i]) AS BIGINT) // count(*) AS BIGINT) AS cqv,
       |    count(*) AS n
       |  FROM q JOIN $asg a USING (vec_id), unnest(generate_series(1, len(qe))) AS t(i)
       |  GROUP BY a.cid, i),
       |$cents AS (SELECT cid, list(cqv ORDER BY dim) AS cq FROM $upd GROUP BY cid)""".stripMargin

  /** Shared oracle prefix: quantized vectors `q`, seed centroids
    * `c0`, and two Lloyd iterations ending in `u2` / `c2`.
    */
  private[operators] val duckKmeansPrefix: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS cq
       |  FROM q ORDER BY vec_id LIMIT $KmeansK),
       |${duckKmeansIter("c0", "a1", "u1", "c1")},
       |${duckKmeansIter("c1", "a2", "u2", "c2")}""".stripMargin

  val q105KmeansTrain: QueryDef = {
    val K = KmeansK
    QueryDef.sql(
      "q105_kmeans_train",
      s"""$duckKmeansPrefix
         |SELECT cid, CAST(dim - 1 AS BIGINT) AS dim, n AS n_members,
         |  round(CAST(cqv AS DOUBLE) / 1e6, 6) AS centroid
         |FROM u2 ORDER BY cid, dim""".stripMargin) { (spark, dir) =>
      val q = kmeansQuantized(spark, dir)
      val u2 = kmeansTrainU2(q)
      u2.select(col("cid"), col("dim").cast("long").as("dim"),
          col("n").as("n_members"),
          round(col("cqv").cast("double") / 1e6, 6).as("centroid"))
        .orderBy("cid", "dim")
    }
  }

  /** q200: simplified (centroid-based) silhouette score of the q105
    * clustering — the standard "are these clusters real?" diagnostic
    * (Rousseeuw 1987; the centroid form is what large-scale
    * evaluators actually run, since the pairwise form is O(n²)).
    * Per vector: a = distance to its own (argmin, q105 tie rule)
    * centroid, b = distance to the nearest OTHER centroid,
    * `s = (b − a) / max(a, b)` — emitted as integer ppm so the
    * per-cluster mean can roll up as an exact integer average.
    *
    * Determinism: squared distances are exact int64 sums; `sqrt` is
    * IEEE-correctly-rounded on both engines, the ppm quantization is
    * one shared round; the per-vector argmin reuses q105's packed
    * (dist, cid) key, so labels are bit-identical to training.
    *
    * Scale shape: K-row broadcast cross join (the q105/q45 bounded
    * pattern) + two bounded aggregates; no pairwise vector join.
    */
  val q200Silhouette: QueryDef = QueryDef.sql(
    "q200_silhouette",
    s"""$duckKmeansPrefix,
       |d AS (SELECT q.vec_id, c.cid,
       |    list_sum(list_transform(generate_series(1, len(qe)),
       |      i -> (qe[i] - c.cq[i]) * (qe[i] - c.cq[i]))) AS d2
       |  FROM q CROSS JOIN c2 c),
       |o AS (SELECT vec_id, arg_min(cid, d2 * $KmeansK + cid) AS cid,
       |    CAST(min(d2) AS BIGINT) AS a2 FROM d GROUP BY vec_id),
       |bb AS (SELECT d.vec_id, CAST(min(d.d2) AS BIGINT) AS b2
       |  FROM d JOIN o ON o.vec_id = d.vec_id AND d.cid <> o.cid
       |  GROUP BY d.vec_id)
       |SELECT o.vec_id, o.cid,
       |  CAST(round(CASE WHEN greatest(sqrt(CAST(bb.b2 AS DOUBLE)), sqrt(CAST(o.a2 AS DOUBLE))) = 0
       |    THEN 0 ELSE (sqrt(CAST(bb.b2 AS DOUBLE)) - sqrt(CAST(o.a2 AS DOUBLE)))
       |      / greatest(sqrt(CAST(bb.b2 AS DOUBLE)), sqrt(CAST(o.a2 AS DOUBLE))) * 1000000
       |    END) AS BIGINT) AS sil_ppm
       |FROM o JOIN bb ON bb.vec_id = o.vec_id
       |ORDER BY o.vec_id""".stripMargin) { (spark, dir) =>
    val q = kmeansQuantized(spark, dir)
    val c2 = kmeansTrainedCents(q)
    // distances to ALL centroids via one Generate over the collected-
    // codebook literal — no broadcast build, no nested-loop join
    val d = q.select(col("vec_id"), col("qe"), explode(codebookLit(c2)).as("c"))
      .select(col("vec_id"), col("c._1").as("cid"),
        l2Col(col("qe"), col("c._2")).as("d2"))
      .scopedPersistEager()
    val o = d.withColumn("key", col("d2") * KmeansK + col("cid"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), col("key")).as("cid"), min("d2").as("a2"))
    val bb = d.join(o.select(col("vec_id"), col("cid").as("own")), Seq("vec_id"))
      .filter(col("cid") =!= col("own"))
      .groupBy("vec_id").agg(min("d2").as("b2"))
    val sa = sqrt(col("a2").cast("double")); val sb = sqrt(col("b2").cast("double"))
    o.join(bb, Seq("vec_id"))
      .select(col("vec_id"), col("cid"),
        round(when(greatest(sb, sa) === 0, lit(0.0))
          .otherwise((sb - sa) / greatest(sb, sa) * 1000000), 0)
          .cast("long").as("sil_ppm"))
      .orderBy("vec_id")
  }

  /** q220: embedding health audit — the pre-indexing checks an ANN
    * build runs: per dimension, the micro-quantized mean and
    * population variance (a collapsed/dead dimension shows variance
    * ≈ 0; a bias-dominated one a large |mean|), plus the zero-value
    * count. Moments are exact int64 sums; the variance is a fixed-
    * order double of the exact sums (cast BEFORE the n·Σq² product —
    * the int64 product overflows at sf0.1, the q202 lesson applied
    * preemptively).
    *
    * Scale shape: one posexplode + a |dims|-bounded hash aggregate
    * with map-side combine; no shuffles of raw vectors.
    */
  val q220EmbeddingHealth: QueryDef = QueryDef.sql(
    "q220_embedding_health",
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
      |d AS (SELECT i - 1 AS dim, qe[i] AS q
      |  FROM q, unnest(generate_series(1, len(qe))) AS t(i)),
      |m AS (SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
      |    CAST(sum(q * q) AS BIGINT) AS sqq,
      |    CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |  FROM d GROUP BY dim)
      |SELECT CAST(dim AS BIGINT) AS dim, n, n_zero,
      |  CAST(sq // n AS BIGINT) AS mean_micro,
      |  round((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
      |    / (CAST(n AS DOUBLE) * n) / 1e12, 6) AS variance
      |FROM m ORDER BY dim""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(posexplode(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long"))).as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"),
        sum(expr("q * q")).as("sqq"),
        sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim").cast("long").as("dim"), col("n"), col("n_zero"),
        expr("sq div n").as("mean_micro"),
        round(expr("(CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)" +
          " / (CAST(n AS DOUBLE) * n) / 1e12"), 6).as("variance"))
      .orderBy("dim")
  }

  /** q224: embedding dimension redundancy — the top-20 most
    * correlated dimension PAIRS (|Pearson r|), q220's health check
    * extended to the Gram matrix: near-±1 pairs mean the embedding
    * wastes capacity and PCA/quantization will collapse them. All
    * second moments are exact int64 sums over micro-quantized
    * values; r is a fixed-order double of the exact sums (cast
    * BEFORE the n·S products — the q202 overflow lesson), rounded
    * once; the cut is a total-ordered TakeOrdered.
    *
    * Scale shape: the pair explode is the exact Gram matrix — dims²/2
    * products per row, aggregated map-side to one |dims|²/2-row
    * relation (the unavoidable cost of exact pairwise correlation;
    * a sampled pass would come first at 100 TB).
    */
  val q224DimRedundancy: QueryDef = QueryDef.sql(
    "q224_dim_redundancy",
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
      |d AS (SELECT i - 1 AS dim, qe[i] AS v
      |  FROM q, unnest(generate_series(1, len(qe))) AS t(i)),
      |m AS (SELECT dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv,
      |    CAST(sum(v * v) AS BIGINT) AS svv FROM d GROUP BY dim),
      |pr AS (SELECT t1.i - 1 AS di, t2.j - 1 AS dj,
      |    CAST(sum(qe[t1.i] * qe[t2.j]) AS BIGINT) AS sij
      |  FROM q, unnest(generate_series(1, len(qe))) AS t1(i),
      |       unnest(generate_series(1, len(qe))) AS t2(j)
      |  WHERE t1.i < t2.j GROUP BY di, dj),
      |c AS (SELECT pr.di, pr.dj,
      |    round((CAST(a.n AS DOUBLE) * pr.sij - CAST(a.sv AS DOUBLE) * b.sv)
      |      / sqrt((CAST(a.n AS DOUBLE) * a.svv - CAST(a.sv AS DOUBLE) * a.sv)
      |           * (CAST(b.n AS DOUBLE) * b.svv - CAST(b.sv AS DOUBLE) * b.sv)), 6) AS r
      |  FROM pr JOIN m a ON a.dim = pr.di JOIN m b ON b.dim = pr.dj)
      |SELECT CAST(di AS BIGINT) AS di, CAST(dj AS BIGINT) AS dj, r
      |FROM c ORDER BY abs(r) DESC, di, dj LIMIT 20""".stripMargin) { (spark, dir) =>
    val q = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("qe"))
      .scopedPersistEager()
    val m = q.select(posexplode(col("qe")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), sum(expr("v * v")).as("svv"))
    val pr = q
      .select(posexplode(col("qe")).as(Seq("di", "vi")), col("qe"))
      .select(col("di"), col("vi"), posexplode(col("qe")).as(Seq("dj", "vj")))
      .filter(col("di") < col("dj"))
      .groupBy("di", "dj").agg(sum(expr("vi * vj")).as("sij"))
    val a = m.select(col("dim").as("di"), col("n").as("na"),
      col("sv").as("sva"), col("svv").as("svva"))
    val b = m.select(col("dim").as("dj"), col("n").as("nb"),
      col("sv").as("svb"), col("svv").as("svvb"))
    pr.join(broadcast(a), Seq("di")).join(broadcast(b), Seq("dj"))
      .select(col("di").cast("long").as("di"), col("dj").cast("long").as("dj"),
        round(expr("""(CAST(na AS DOUBLE) * sij - CAST(sva AS DOUBLE) * svb)
          / sqrt((CAST(na AS DOUBLE) * svva - CAST(sva AS DOUBLE) * sva)
               * (CAST(nb AS DOUBLE) * svvb - CAST(svb AS DOUBLE) * svb))"""), 6).as("r"))
      .orderBy(abs(col("r")).desc, col("di"), col("dj"))
      .limit(20)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space with the coarse
    * quantizer, then prune near-duplicate pairs WITHIN each cluster
    * only — the cluster bound is what makes semantic dedup tractable
    * (pairs are confined to same-cluster members instead of the full
    * n² space). A vector is pruned when a LOWER-id same-cluster
    * member sits above the cosine threshold; the lowest id of each
    * near-dup group survives as canonical.
    *
    * Scale shape: assignment is the q67 zero-shuffle codebook map;
    * the pair scan is [[BoundedPairs.Cells]] on `list_id`: each IVF
    * list SUB-SPLITS into B = ⌈|list|/target⌉ md5 cells of
    * ≤ [[SemDedupCellTarget]] vectors. Without the cell split the
    * self-join cost is Σ|cluster|² = Θ(n²/K) at FIXED K — a 10× corpus
    * measured 76× (BENCH_NOTES round 6) because a driver-collected
    * brute-force codebook cannot actually grow K with n. With it,
    * per-cell pairs are ≤ target², so the whole scan is ≤ n·target —
    * LINEAR in the corpus with a constant-size codebook. The trade: same-cluster
    * pairs in different cells are not compared — a finer-grained
    * version of SemDeDup's own cluster-scoped approximation (the
    * paper's K≈100k serves exactly this cluster-size bound); below
    * target per list (both driver scales) B = 1 and the output is
    * bit-identical to the unsplit form. Final verdict: one aggregate
    * + a left join back.
    */
  /** Target max vectors per SemDeDup pair-scan cell: bounds the
    * within-cell pair work to target²; below this per IVF list the
    * cell split is a no-op (B = 1).
    */
  val SemDedupCellTarget = 512L

  val q155SemdedupPrune: QueryDef =
    semdedupQuery("q155_semdedup_prune", SemDedupCellTarget)

  /** q239: q155 with the cell target forced down to 16 so B =
    * ⌈|list|/16⌉ > 1 at EVERY oracle scale — the only query that
    * exercises the md5-sub-cell assignment (base32 % B) against
    * DuckDB cross-engine; q155's production target of 512 keeps B=1
    * at all fixture scales, so a hash/modulo divergence there would
    * otherwise surface first at 100 TB. Same plan shape as q155 with
    * strictly smaller cells, so the pair scan is cheaper. */
  val q239SemdedupCells: QueryDef =
    semdedupQuery("q239_semdedup_cells", 16L)

  private def semdedupQuery(name: String, cellTarget: Long): QueryDef = {
    val threshold = 0.3
    val tgt = cellTarget
    QueryDef.sql(
      name,
      s"""WITH $duckCentroids,
         |asg AS (SELECT vec_id, c_id AS list_id, embedding FROM (
         |  SELECT e.vec_id, c.c_id, e.embedding,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |sz AS (SELECT list_id, count(*) AS ln FROM asg GROUP BY list_id),
         |ac AS (SELECT a.vec_id, a.list_id, a.embedding,
         |    ${graft.functions.TextHash.duckBase32("a.vec_id::VARCHAR")}
         |      % ((s.ln + ${tgt - 1}) // $tgt) AS cell
         |  FROM asg a JOIN sz s ON s.list_id = a.list_id),
         |close AS (SELECT y.vec_id, count(*) AS n_close
         |  FROM ac x JOIN ac y ON x.list_id = y.list_id AND x.cell = y.cell
         |    AND x.vec_id < y.vec_id
         |  WHERE round(${duckDot("x.embedding", "y.embedding")} /
         |      (sqrt(${duckNorm("x.embedding")}) * sqrt(${duckNorm("y.embedding")})), 6)
         |    >= $threshold
         |  GROUP BY y.vec_id)
         |SELECT a.vec_id, a.list_id, coalesce(c.n_close, 0) AS n_close,
         |  (c.n_close IS NULL) AS kept
         |FROM asg a LEFT JOIN close c ON a.vec_id = c.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (spark, dir) =>
      val asg = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
          col("embedding"))
        .scopedPersist()
      // norms are precomputed per ROW (sqrt once per vector, not per
      // pair) — bit-identical to the per-pair form, ~3x fewer flops
      // in the pair scan
      val close = BoundedPairs(asg.withColumn("nrm", sqrt(normCol(col("embedding")))),
          Seq("list_id"), "vec_id", Seq("embedding", "nrm"), BoundedPairs.Cells(tgt))
        .filter(round(dotCol(col("embedding_a"), col("embedding_b")) /
          (col("nrm_a") * col("nrm_b")), 6) >= threshold)
        .groupBy(col("vec_id_b").as("vec_id")).agg(count(lit(1)).as("n_close"))
      asg.select("vec_id", "list_id")
        .join(close, Seq("vec_id"), "left")
        .withColumn("kept", col("n_close").isNull)
        .withColumn("n_close", coalesce(col("n_close"), lit(0L)))
        .select("vec_id", "list_id", "n_close", "kept")
        .orderBy("vec_id")
    }
  }

  /** Multi-probe LSH top-3: the standard recall fix for bucketed ANN
    * (Lv et al., VLDB'07) — each query probes its own bucket PLUS the
    * 8 Hamming-1 neighbor buckets (one hyperplane sign flipped), so
    * near neighbors that landed just across one hyperplane are no
    * longer lost. Candidates stay an equi join on the bucket key —
    * probe count multiplies the build side by 9, never the corpus —
    * and AuditOpsSpec pins that its recall@3 dominates q47's
    * single-probe recall.
    */
  val q177MultiprobeTopK: QueryDef = QueryDef.sql(
    "q177_multiprobe_topk",
    s"""WITH $duckBuckets,
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM bk WHERE vec_id < 10),
       |pr AS (SELECT q_id, qe, CASE WHEN p = $NumPlanes THEN bucket
       |    ELSE xor(bucket, 1::BIGINT << p) END AS pb
       |  FROM q, range(0, ${NumPlanes + 1}) t(p)),
       |c AS (SELECT pr.q_id, bk.vec_id,
       |    round(${duckDot("pr.qe", "bk.embedding")} /
       |      (sqrt(${duckNorm("pr.qe")}) * sqrt(${duckNorm("bk.embedding")})), 6) AS cos_sim
       |  FROM pr JOIN bk ON bk.bucket = pr.pb AND bk.vec_id <> pr.q_id),
       |r AS (SELECT q_id, vec_id, cos_sim, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank FROM c)
       |SELECT q_id, vec_id, cos_sim, rank FROM r WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin) { (spark, dir) =>
    val bk = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketCol.as("bucket"))
      .scopedPersist()
    val probes = bk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"),
        explode(expr(s"sequence(0, $NumPlanes)")).as("p"))
      .select(col("q_id"), col("qe"),
        when(col("p") === NumPlanes, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, p)")).as("pb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    bk.join(broadcast(probes), col("bucket") === col("pb"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(
        dotCol(col("qe"), col("embedding")) /
          (sqrt(normCol(col("qe"))) * sqrt(normCol(col("embedding")))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "vec_id", "cos_sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Distributed PCA by POWER ITERATION over the embedding corpus:
    * two matrix-vector products `v ← scale(Xᵀ(Xv))` yield the
    * dominant principal direction — the "which way does this
    * embedding space actually point" diagnostic behind anisotropy
    * reports and PCA-whitening decisions.
    *
    * Exactness: embeddings are micro-quantized once (q105's
    * convention); every iteration step is integer arithmetic — the
    * per-row score `s_i = (qe·v) fdiv 10^6`, the per-dimension
    * accumulation `S_j = Σ (qe_ij·s_i) fdiv 10^6`, and max-abs
    * rescaling `v_j = S_j·10^6 fdiv max|S|` (power iteration is
    * scale-invariant, and max-abs keeps every quantity in int64
    * without a float norm). All divisions TRUNCATE toward zero on
    * both engines (Spark `div` ≡ DuckDB `//` for signed operands —
    * verified, both give -7/2 → -3), so the two are bit-identical
    * on the signed intermediates. Integer
    * headroom: Σ|contribution| < 2^63 holds to ~10^11 rows; past
    * that, widen the accumulators to DECIMAL(38).
    *
    * Scale shape: each iteration is one broadcast of the 64-value
    * vector, one narrow map over the corpus, and one 64-group hash
    * aggregate — the classic allreduce shape; nothing materializes
    * beyond 64 rows between iterations.
    */
  val q170PowerIteration: QueryDef = {
    val dims = 64
    def duckIter(vPrev: String, s: String, u: String, m: String, vNext: String): String =
      s"""$s AS (SELECT vec_id, qe,
         |    CAST(list_sum(list_transform(generate_series(1, len(qe)),
         |      i -> qe[i] * v[i])) AS BIGINT) // 1000000 AS s
         |  FROM q CROSS JOIN $vPrev),
         |$u AS (SELECT i - 1 AS dim,
         |    CAST(sum((qe[i] * s) // 1000000) AS BIGINT) AS sj
         |  FROM $s, unnest(generate_series(1, len(qe))) AS t(i) GROUP BY i),
         |$m AS (SELECT max(abs(sj)) AS ma FROM $u),
         |$vNext AS (SELECT list(sj * 1000000 // ma ORDER BY dim) AS v
         |  FROM $u, $m)""".stripMargin
    QueryDef.sql(
      "q170_power_iteration",
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
         |v0 AS (SELECT list_transform(generate_series(1, $dims),
         |    i -> CASE WHEN i = 1 THEN 1000000::BIGINT ELSE 0::BIGINT END) AS v),
         |${duckIter("v0", "s1", "u1", "m1", "v1")},
         |${duckIter("v1", "s2", "u2", "m2", "v2")}
         |SELECT u2.dim, u2.sj * 1000000 // m2.ma AS v_micro,
         |  round((u2.sj * 1000000 // m2.ma) / 1e6, 6) AS v
         |FROM u2, m2 ORDER BY u2.dim""".stripMargin) { (spark, dir) =>
      val q = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long")).as("qe"))
        .scopedPersist()
      // DuckDB's // truncates toward zero for signed operands —
      // exactly Spark's `div` — so the two engines agree verbatim
      def fdiv(a: String, b: String): String = s"(($a)) div ($b)"
      def iter(v: DataFrame): DataFrame = {
        val s = q.crossJoin(broadcast(v))
          .withColumn("__dotqv", dotLongCol(col("qe"), col("v")))
          .withColumn("s", expr(fdiv("__dotqv", "1000000L")))
        val u = s.select(col("s"), posexplode(col("qe")).as(Seq("dim", "x")))
          .groupBy("dim").agg(sum(expr(fdiv("x * s", "1000000L"))).as("sj"))
        val ma = u.agg(max(abs(col("sj"))).as("ma"))
        u.crossJoin(broadcast(ma))
          .select(col("dim"), expr(fdiv("sj * 1000000L", "ma")).as("vj"))
          .groupBy()
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("vj")))),
            e => e.getField("vj")).as("v"))
      }
      val v0 = spark.range(1)
        .select(expr(s"transform(sequence(0, ${dims - 1}), " +
          "i -> IF(i = 0, 1000000L, 0L))").as("v"))
      val u2m = iter(iter(v0))
      u2m.select(posexplode(col("v")).as(Seq("dim", "v_micro")))
        .withColumn("dim", col("dim").cast("long"))
        .withColumn("v", round(col("v_micro").cast("double") / 1e6, 6))
        .orderBy("dim")
    }
  }

  /** ANN index-quality audit: recall@3 of the LSH-bucketed search
    * (q47) against the exact brute-force top-3 (q45) per query — the
    * evaluation loop every approximate index ships with. A recall
    * collapse after a data shift is the signal to re-tune planes or
    * switch to IVF.
    *
    * Scale shape: both inputs are top-k relations (queries × k
    * rows); the audit join and per-query rollup are negligible next
    * to the searches themselves, and the searches keep their own
    * scale shapes (broadcast exact scan; bucket equi-join).
    */
  val q165AnnRecall: QueryDef = QueryDef.sql(
    "q165_ann_recall",
    s"""WITH $duckBuckets,
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM bk WHERE vec_id < 10),
       |ec AS (SELECT q.q_id, e.vec_id,
       |    round(${duckDot("qe", "e.embedding")} /
       |      (sqrt(${duckNorm("qe")}) * sqrt(${duckNorm("e.embedding")})), 6) AS cos_sim
       |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
       |er AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank FROM ec),
       |ex AS (SELECT q_id, vec_id FROM er WHERE rank <= 3),
       |ac AS (SELECT q.q_id, bk.vec_id,
       |    round(${duckDot("qe", "bk.embedding")} /
       |      (sqrt(${duckNorm("qe")}) * sqrt(${duckNorm("bk.embedding")})), 6) AS cos_sim
       |  FROM q JOIN bk ON bk.bucket = q.bucket AND bk.vec_id <> q.q_id),
       |ar AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rank FROM ac),
       |ap AS (SELECT q_id, vec_id FROM ar WHERE rank <= 3)
       |SELECT ex.q_id, count(*) AS n_exact, count(ap.vec_id) AS hits,
       |  CAST(count(ap.vec_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin) { (spark, dir) =>
    val exact = q45CosineTopK.fn(spark, dir)
      .filter(col("rank") <= 3).select(col("q_id"), col("vec_id"))
    val approx = q47AnnTopK.fn(spark, dir)
      .select(col("q_id"), col("vec_id").as("a_vid"))
    exact.join(approx,
        exact("q_id") === approx("q_id") && col("vec_id") === col("a_vid"), "left")
      .select(exact("q_id").as("q_id"), col("vec_id"), col("a_vid"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
      .orderBy("q_id")
  }

  // ------------------------------------------------------------------
  // Product quantization (q234 codebook train, q235 ADC search).
  // ------------------------------------------------------------------

  /** PQ geometry: M subspaces of Dsub dims each over the 64-dim
    * embeddings, K centroids per subspace, 2 Lloyd iterations — the
    * compressed-domain ANN layout of Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search" (TPAMI 2011). */
  val PqM = 4
  val PqDsub = 16
  val PqK = 8

  /** Per-(vector, subspace) rows: `sub` indexes the M slices of the
    * micro-quantized `qe` vector, carried alongside the row's id
    * column `idCol`. A constant M-way explode — row count is M×n,
    * each row Dsub longs, never a pairwise blowup. */
  private[operators] def pqSubvectors(q: DataFrame, idCol: String): DataFrame =
    q.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(PqM - 1)),
        s => slice(col("qe"), s * lit(PqDsub) + 1, lit(PqDsub))))
      .as(Seq("sub", "sq")))

  /** Driver-collected per-subspace PQ codebooks: index `sub` holds
    * that subspace's ascending cids and Dsub-dim centroid arrays.
    * M×K×Dsub int64s — the bounded-codebook fold of [[Codebook]]
    * applied per subspace. */
  private[operators] type SubCodebooks = (Seq[Seq[Long]], Seq[Seq[Seq[Long]]])

  /** Seed sub-codebooks: the K lowest vec_ids' subvectors (the q105
    * deterministic seed, sliced per subspace driver-side). */
  private[operators] def pqSeedCents(q: DataFrame): SubCodebooks = {
    val rows = q.orderBy("vec_id").limit(PqK).select("qe").collect()
    val ids = rows.indices.map(_.toLong).toSeq
    val bySub = (0 until PqM).map { sub =>
      rows.map(_.getSeq[Long](0).slice(sub * PqDsub, (sub + 1) * PqDsub).toSeq).toSeq
    }
    ((0 until PqM).map(_ => ids), bySub)
  }

  /** Sub-space squared distance — exact int64 sum over Dsub dims
    * (native loop; value-identical to the historical
    * `aggregate(zip_with(...))` fold, see [[l2Col]]). */
  private def pqDist(a: Column, b: Column): Column = l2Col(a, b)

  /** Per-(sub, sq) argmin against collected sub-codebooks — q105's
    * packed (dist, cid) tie rule as one native loop per row. */
  private def nearestSubCodeCol(c: SubCodebooks, sub: Column, sq: Column): Column =
    bridge(graft.functions.NearestSubCode(ex(sub), ex(sq), c._1, c._2))

  /** All M PQ codes of a full vector in one native per-row loop
    * (element `sub` = argmin cid of the sub-th Dsub slice) — the
    * search-side code relation becomes a narrow projection with no
    * explode-join at all. */
  private[operators] def pqEncodeCol(c: SubCodebooks, v: Column): Column =
    bridge(graft.functions.PqEncode(ex(v), c._1, c._2, PqDsub))

  /** Truncating-integer-mean update under collected sub-codebooks:
    * one narrow argmin projection over the (sub, sq) explode + one
    * (sub, cid, dim)-bounded hash aggregate — no assignment shuffle,
    * no sub-codebook join. Value-identical to the historical
    * join + min_by + join chain. */
  private[operators] def pqUpdateNative(sv: DataFrame, c: SubCodebooks): DataFrame =
    sv.select(col("sub"), nearestSubCodeCol(c, col("sub"), col("sq")).as("cid"),
        posexplode(col("sq")).as(Seq("dim", "v")))
      .groupBy("sub", "cid", "dim")
      .agg(expr("sum(v) div count(1)").as("cqv"), count(lit(1)).as("n"))

  /** Assemble a collected (sub, cid, dim, cqv) update relation into
    * [[SubCodebooks]] (M×K×Dsub rows — bounded). */
  private def collectSubCents(u: DataFrame): SubCodebooks = {
    val rows = u.select(col("sub").cast("long").as("sub"), col("cid"),
      col("dim").cast("long").as("dim"), col("cqv")).collect()
    val bySub = (0 until PqM).map { sub =>
      val subRows = rows.filter(_.getLong(0) == sub)
      val byCid = subRows.groupBy(_.getLong(1)).toSeq.sortBy(_._1)
      (byCid.map(_._1),
        byCid.map(_._2.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq))
    }
    (bySub.map(_._1), bySub.map(_._2))
  }

  /** Train the M sub-codebooks through two Lloyd iterations and
    * return the final update relation (sub, cid, dim, cqv, n); the
    * intermediate codebook is a collected driver sync, the final
    * update stays lazy so q234 can emit it. */
  private[operators] def pqTrainU2(sv: DataFrame, q: DataFrame): DataFrame =
    pqUpdateNative(sv, collectSubCents(pqUpdateNative(sv, pqSeedCents(q))))

  /** The trained sub-codebooks after two Lloyd iterations, collected. */
  private[operators] def pqTrainedCents(sv: DataFrame, q: DataFrame): SubCodebooks =
    collectSubCents(pqTrainU2(sv, q))

  /** Per-subspace (cid, centroid) pairs of collected sub-codebooks as
    * a literal (outer index = sub) — the LUT build reads it with
    * `explode(element_at(…, sub + 1))`, replacing the sub-codebook
    * broadcast join. */
  private def subCodebooksLit(c: SubCodebooks): Column =
    typedlit(c._1.indices.map(s => c._1(s).zip(c._2(s))))

  /** One per-subspace Lloyd iteration in DuckDB (the q105 oracle
    * pattern with a `sub` key threaded through); `sv` names the
    * subvector relation so a query can train TWO codebooks (raw +
    * residual, q246) in one statement. */
  private def duckPqIterOn(sv: String, prev: String, asg: String, upd: String,
      cents: String): String =
    s"""$asg AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
       |  FROM $sv v JOIN $prev c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
       |$upd AS (SELECT v.sub, a.cid, i AS dim,
       |    CAST(CAST(sum(v.sq[i]) AS BIGINT) // count(*) AS BIGINT) AS cqv,
       |    count(*) AS n
       |  FROM $sv v JOIN $asg a ON a.vec_id = v.vec_id AND a.sub = v.sub,
       |    unnest(generate_series(1, $PqDsub)) AS t(i)
       |  GROUP BY v.sub, a.cid, i),
       |$cents AS (SELECT sub, cid, list(cqv ORDER BY dim) AS cq
       |  FROM $upd GROUP BY sub, cid)""".stripMargin

  private def duckPqIter(prev: String, asg: String, upd: String,
      cents: String): String = duckPqIterOn("sv", prev, asg, upd, cents)

  /** Shared PQ oracle prefix: quantized vectors `q`, subvector rows
    * `sv`, seed `c0`, two Lloyd iterations ending in `u2`/`c2`. */
  private val duckPqPrefix: String =
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
       |sv AS (SELECT vec_id, s.sub,
       |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS sq
       |  FROM q, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |sid AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe
       |  FROM q ORDER BY vec_id LIMIT $PqK),
       |c0 AS (SELECT cid, s.sub,
       |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS cq
       |  FROM sid, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |${duckPqIter("c0", "a1", "u1", "c1")},
       |${duckPqIter("c1", "a2", "u2", "c2")}""".stripMargin

  /** q234: product-quantization codebook training — M independent
    * integer-exact k-means runs, one per Dsub-dim subspace, sharing
    * q105's arithmetic contract (micro-unit longs, packed-argmin
    * ties, truncating-mean updates) so the M×K×Dsub codebook is
    * bit-identical on any engine or reduction order. PQ is the
    * standard compressed-domain ANN layout at 100 TB scale: 64 dims
    * × 4 bytes compress to M=4 one-byte codes per vector.
    *
    * Scale shape per Lloyd iteration: the sub-codebook (M×K = 32
    * rows) broadcasts; assignment is one hash aggregate keyed by
    * (vec_id, sub) over the constant-M subvector explode; the update
    * is a second bounded aggregate (M×K×Dsub output rows). No
    * vector-pair join anywhere — cost is O(n·M·K·Dsub) scan work,
    * the same profile a production PQ trainer has.
    */
  val q234PqCodebook: QueryDef = QueryDef.sql(
    "q234_pq_codebook",
    s"""$duckPqPrefix
       |SELECT CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS cid,
       |  CAST(dim - 1 AS BIGINT) AS dim, n AS n_members,
       |  round(CAST(cqv AS DOUBLE) / 1e6, 6) AS centroid
       |FROM u2 ORDER BY sub, cid, dim""".stripMargin) { (spark, dir) =>
    val q = kmeansQuantized(spark, dir)
    val sv = pqSubvectors(q, "vec_id")
    pqTrainU2(sv, q)
      .select(col("sub").cast("long").as("sub"), col("cid"),
        col("dim").cast("long").as("dim"), col("n").as("n_members"),
        round(col("cqv").cast("double") / 1e6, 6).as("centroid"))
      .orderBy("sub", "cid", "dim")
  }

  /** q235: PQ search by asymmetric distance computation (ADC) — the
    * query (lowest vec_id, held out of the ranking) is compared to
    * CENTROIDS only: a M×K lookup table of exact int64 sub-distances
    * is built once, every corpus vector's approximate distance is
    * the sum of M table entries addressed by its PQ code, and the
    * top-20 by (adc_d2, vec_id) is re-scored exactly. Emitting both
    * adc_d2 and exact_d2 makes the query double as the PQ
    * approximation-quality audit (the Jégou et al. ADC estimator).
    *
    * Scale shape: encoding is q234's bounded (vec_id, sub) aggregate
    * after a 32-row codebook broadcast; the ADC scan joins the code
    * relation to the 32-row LUT (broadcast hash join) and sums —
    * O(n·M) lookup work, the whole point of PQ; the ranking is a
    * TakeOrderedAndProject(20); ONLY the 20 survivors pay an exact
    * 64-dim re-score (equi join back to the vector relation). The
    * single nested-loop join is the 1-row query-vector broadcast.
    */
  val q235PqAdcTopk: QueryDef = QueryDef.sql(
    "q235_pq_adc_topk",
    s"""$duckPqPrefix,
       |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
       |  FROM sv v JOIN c2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
       |qv AS (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 1),
       |qsv AS (SELECT s.sub,
       |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS qsq
       |  FROM qv, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |lut AS (SELECT c.sub, c.cid,
       |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
       |  FROM qsv t JOIN c2 c ON t.sub = c.sub),
       |adc AS (SELECT k.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
       |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
       |  GROUP BY k.vec_id),
       |top AS (SELECT a.vec_id, a.adc_d2 FROM adc a, qv
       |  WHERE a.vec_id <> qv.vec_id
       |  ORDER BY a.adc_d2, a.vec_id LIMIT 20)
       |SELECT t.vec_id, t.adc_d2,
       |  CAST(list_sum(list_transform(generate_series(1, len(q.qe)),
       |    i -> (q.qe[i] - qv.qe[i]) * (q.qe[i] - qv.qe[i]))) AS BIGINT) AS exact_d2
       |FROM top t JOIN q ON q.vec_id = t.vec_id, qv
       |ORDER BY t.adc_d2, t.vec_id""".stripMargin) { (spark, dir) =>
    val q = kmeansQuantized(spark, dir)
    val sv = pqSubvectors(q, "vec_id")
    val c2 = pqTrainedCents(sv, q)
    // code relation = one narrow projection (native per-row encode
    // against the collected codebook) — no sub-codebook join, no
    // (vec_id, sub) re-aggregation
    val codes = q.select(col("vec_id"),
      posexplode(pqEncodeCol(c2, col("qe"))).as(Seq("sub", "cid")))
    val qv = q.orderBy("vec_id").limit(1)
    val qsv = pqSubvectors(qv, "vec_id").select(col("sub"), col("sq").as("qsq"))
    val lut = qsv
      .select(col("sub"), col("qsq"),
        explode(element_at(subCodebooksLit(c2), col("sub") + 1)).as("c"))
      .select(col("sub"), col("c._1").as("cid"),
        pqDist(col("qsq"), col("c._2")).as("d2"))
    val adc = codes.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy("vec_id").agg(sum("d2").as("adc_d2"))
    val qRow = qv.select(col("vec_id").as("q_vid"), col("qe").as("qqe"))
    adc.crossJoin(broadcast(qRow))
      .filter(col("vec_id") =!= col("q_vid"))
      .orderBy("adc_d2", "vec_id").limit(20)
      .join(q, "vec_id")
      .select(col("vec_id"), col("adc_d2"),
        pqDist(col("qe"), col("qqe")).as("exact_d2"))
      .orderBy("adc_d2", "vec_id")
  }

  /** q238: IVFADC — the full Jégou/Douze/Schmid compressed-domain
    * search layout, composing q67/q68's IVF coarse routing with
    * q234/q235's PQ codes. Every corpus vector carries its coarse
    * list id and its M PQ codes; a query probes only its NProbe
    * nearest coarse lists, ADC-scores ONLY the codes in those lists
    * via the per-query M×K lookup table, takes the top-5 per query,
    * and exactly re-scores just the survivors. Unlike q235 (whose
    * ADC scan touches every vector), the candidate relation here is
    * bounded by the probed lists — the only form that works at
    * 100 TB, where the per-list scan is ~nprobe/K of the corpus.
    *
    * Scale shape: routing is the q67 driver-collected coarse
    * codebook (NumCentroids rows) as a native per-row expression —
    * zero shuffle; the LIST-KEY EQUI-JOIN (codes ⋈ asg ⋈ qp on
    * list_id) runs AHEAD of ADC scoring, so the LUT join and the
    * (q_id, vec_id) sum only see probed-list rows; the LUT is
    * |queries|×M×K rows, broadcast; ranking is a per-query window
    * over probed candidates; only ≤ 5 survivors per query pay the
    * exact 64-dim re-score.
    */
  val q238IvfAdcTopk: QueryDef = QueryDef.sql(
    "q238_ivfadc_topk",
    s"""$duckPqPrefix,
       |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
       |  FROM sv v JOIN c2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
       |$duckCentroids,
       |asg AS (SELECT vec_id, c_id AS list_id FROM (
       |  SELECT e.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1),
       |qp AS (SELECT q_id, c_id AS list_id FROM (
       |  SELECT e.vec_id AS q_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c WHERE e.vec_id < 10) WHERE rn <= $NProbe),
       |lut AS (SELECT t.q_id, c.sub, c.cid,
       |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
       |  FROM (SELECT vec_id AS q_id, sub, sq AS qsq FROM sv WHERE vec_id < 10) t
       |  JOIN c2 c ON t.sub = c.sub),
       |cand AS (SELECT qp.q_id, k.vec_id, k.sub, k.cid
       |  FROM codes k JOIN asg a ON a.vec_id = k.vec_id
       |  JOIN qp ON qp.list_id = a.list_id
       |  WHERE k.vec_id <> qp.q_id),
       |adc AS (SELECT c.q_id, c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
       |  FROM cand c JOIN lut l
       |    ON l.q_id = c.q_id AND l.sub = c.sub AND l.cid = c.cid
       |  GROUP BY c.q_id, c.vec_id),
       |r AS (SELECT q_id, vec_id, adc_d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank
       |  FROM adc)
       |SELECT r.q_id, r.vec_id, r.adc_d2,
       |  CAST(list_sum(list_transform(generate_series(1, len(v.qe)),
       |    i -> (v.qe[i] - qq.qe[i]) * (v.qe[i] - qq.qe[i]))) AS BIGINT) AS exact_d2,
       |  r.rank
       |FROM r JOIN q v ON v.vec_id = r.vec_id JOIN q qq ON qq.vec_id = r.q_id
       |WHERE rank <= 5 ORDER BY r.q_id, r.rank""".stripMargin) { (spark, dir) =>
    val q = kmeansQuantized(spark, dir)
    val sv = pqSubvectors(q, "vec_id")
    val c2 = pqTrainedCents(sv, q)
    val emb = Tables.embeddings(spark, dir)
    val qp = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        explode(nearestCol(spark, dir, NProbe, col("embedding"))).as("list_id"))
    val lut = sv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("sub"), col("sq").as("qsq"))
      .select(col("q_id"), col("sub"), col("qsq"),
        explode(element_at(subCodebooksLit(c2), col("sub") + 1)).as("c"))
      .select(col("q_id"), col("sub"), col("c._1").as("cid"),
        pqDist(col("qsq"), col("c._2")).as("d2"))
    // ONE narrow corpus scan carries the coarse list AND all M PQ
    // codes per row (both native per-row expressions), so the
    // codes ⋈ asg corpus self-join disappears; the probed-list
    // equi-join still bounds candidates BEFORE any scoring
    val cand = emb.select(col("vec_id"),
        element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
        pqEncodeCol(c2, quantizeCol(col("embedding"))).as("codes"))
      .join(broadcast(qp), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    val adc = cand.join(broadcast(lut), Seq("q_id", "sub", "cid"))
      .groupBy("q_id", "vec_id").agg(sum("d2").as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2"), col("vec_id"))
    val top = adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val qRows = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qe").as("qqe"))
    top.join(q, "vec_id").join(broadcast(qRows), "q_id")
      .select(col("q_id"), col("vec_id"), col("adc_d2"),
        pqDist(col("qe"), col("qqe")).as("exact_d2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** q241: RESIDUAL-encoded IVFADC — the complete Jégou/Douze/Schmid
    * §IV layout. q238 PQ-encodes raw vectors; the published IVFADC
    * quantizes the residual r = x − c(list(x)) instead, which is what
    * makes the M×K codebook spend its budget on the within-list
    * geometry. Residuals are exact int64 differences in the
    * micro-quantized domain, so the whole Lloyd/LUT/ADC chain keeps
    * q234's bit-exact arithmetic contract. The query side builds one
    * LUT PER PROBED LIST (the query's residual differs per list —
    * |queries|×NProbe×M×K = 640 rows, broadcast), candidates bound by
    * the probed-list equi-join exactly as in q238, and the top-5
    * survivors re-score on the RAW vectors.
    *
    * Scale shape: residual computation is a 16-row broadcast onto the
    * corpus scan; everything downstream matches q238 (bounded Lloyd
    * aggregates, broadcast LUT, probed-list candidates, window top-5).
    */
  val q241ResidualIvfAdc: QueryDef = QueryDef.sql(
    "q241_residual_ivfadc",
    s"""WITH q0 AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe FROM embeddings),
       |$duckCentroids,
       |asg AS (SELECT vec_id, c_id AS list_id FROM (
       |  SELECT e.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1),
       |cq0 AS (SELECT vec_id AS list_id, qe AS cqe FROM q0 WHERE vec_id < $NumCentroids),
       |q AS (SELECT v.vec_id, list_transform(v.qe, (x, i) -> x - c.cqe[i]) AS qe
       |  FROM q0 v JOIN asg a ON a.vec_id = v.vec_id
       |  JOIN cq0 c ON c.list_id = a.list_id),
       |sv AS (SELECT vec_id, s.sub,
       |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS sq
       |  FROM q, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |sid AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe
       |  FROM q ORDER BY vec_id LIMIT $PqK),
       |c0 AS (SELECT cid, s.sub,
       |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS cq
       |  FROM sid, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |${duckPqIter("c0", "a1", "u1", "c1")},
       |${duckPqIter("c1", "a2", "u2", "c2")},
       |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
       |  FROM sv v JOIN c2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
       |qp AS (SELECT q_id, c_id AS list_id FROM (
       |  SELECT e.vec_id AS q_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c WHERE e.vec_id < 10) WHERE rn <= $NProbe),
       |qr AS (SELECT qp.q_id, qp.list_id,
       |    list_transform(v.qe, (x, i) -> x - c.cqe[i]) AS rqe
       |  FROM qp JOIN q0 v ON v.vec_id = qp.q_id
       |  JOIN cq0 c ON c.list_id = qp.list_id),
       |qsv AS (SELECT q_id, list_id, s.sub,
       |    list_slice(rqe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS qsq
       |  FROM qr, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
       |lut AS (SELECT t.q_id, t.list_id, c.sub, c.cid,
       |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
       |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
       |  FROM qsv t JOIN c2 c ON t.sub = c.sub),
       |cand AS (SELECT qp.q_id, qp.list_id, k.vec_id, k.sub, k.cid
       |  FROM codes k JOIN asg a ON a.vec_id = k.vec_id
       |  JOIN qp ON qp.list_id = a.list_id
       |  WHERE k.vec_id <> qp.q_id),
       |adc AS (SELECT c.q_id, c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
       |  FROM cand c JOIN lut l ON l.q_id = c.q_id AND l.list_id = c.list_id
       |    AND l.sub = c.sub AND l.cid = c.cid
       |  GROUP BY c.q_id, c.vec_id),
       |r AS (SELECT q_id, vec_id, adc_d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank
       |  FROM adc)
       |SELECT r.q_id, r.vec_id, r.adc_d2,
       |  CAST(list_sum(list_transform(generate_series(1, len(v.qe)),
       |    i -> (v.qe[i] - qq.qe[i]) * (v.qe[i] - qq.qe[i]))) AS BIGINT) AS exact_d2,
       |  r.rank
       |FROM r JOIN q0 v ON v.vec_id = r.vec_id JOIN q0 qq ON qq.vec_id = r.q_id
       |WHERE rank <= 5 ORDER BY r.q_id, r.rank""".stripMargin) { (spark, dir) =>
    val q0 = kmeansQuantized(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // the 16-row coarse codebook (quantized) as a collected literal
    // map — the residual subtraction becomes a per-row lookup, no join
    val cq0 = typedlit(collectIdVecs(
      q0.filter(col("vec_id") < NumCentroids), "vec_id").toMap)
    // one scan computes quantization, the coarse list AND the
    // residual inline (all native per-row expressions — no
    // corpus⋈corpus shuffle, no centroid join); persisted because
    // every Lloyd job downstream rescans it (kmeansQuantized's policy)
    val qres = emb
      .select(col("vec_id"),
        element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
        quantizeCol(col("embedding")).as("qe0"))
      .select(col("vec_id"), col("list_id"),
        subArrCol(col("qe0"), element_at(cq0, col("list_id"))).as("qe"))
      .scopedPersist()
    val sv = pqSubvectors(qres, "vec_id")
    val c2 = pqTrainedCents(sv, qres)
    val qp = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        explode(nearestCol(spark, dir, NProbe, col("embedding"))).as("list_id"))
    val qr = qp.join(q0.select(col("vec_id").as("q_id"), col("qe")), "q_id")
      .select(col("q_id"), col("list_id"),
        subArrCol(col("qe"), element_at(cq0, col("list_id"))).as("rqe"))
    val qsv = qr.select(col("q_id"), col("list_id"), posexplode(
      transform(sequence(lit(0), lit(PqM - 1)),
        s => slice(col("rqe"), s * lit(PqDsub) + 1, lit(PqDsub))))
      .as(Seq("sub", "qsq")))
    val lut = qsv
      .select(col("q_id"), col("list_id"), col("sub"), col("qsq"),
        explode(element_at(subCodebooksLit(c2), col("sub") + 1)).as("c"))
      .select(col("q_id"), col("list_id"), col("sub"), col("c._1").as("cid"),
        pqDist(col("qsq"), col("c._2")).as("d2"))
    // the persisted residual relation already carries list + residual
    // per row, so candidates need only the probed-list equi-join —
    // codes are a native per-row encode of the residual
    val cand = qres
      .join(broadcast(qp), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("list_id"), col("vec_id"),
        posexplode(pqEncodeCol(c2, col("qe"))).as(Seq("sub", "cid")))
    val adc = cand.join(broadcast(lut), Seq("q_id", "list_id", "sub", "cid"))
      .groupBy("q_id", "vec_id").agg(sum("d2").as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2"), col("vec_id"))
    val top = adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    val qRows = q0.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qe").as("qqe"))
    top.join(q0, "vec_id").join(broadcast(qRows), "q_id")
      .select(col("q_id"), col("vec_id"), col("adc_d2"),
        pqDist(col("qe"), col("qqe")).as("exact_d2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** q242: IVFADC recall audit — q165's recall loop applied to the
    * Jégou stack (TPAMI'11 §V's recall@R curves): recall@5 of the
    * q238 probed-list ADC search against the exact exhaustive top-5,
    * per NProbe ∈ {1, 2, 4}. This is the measurement that makes the
    * compressed-domain index trustworthy — the nprobe knob trades
    * scan fraction (~nprobe/K of the corpus) against exactly this
    * recall number, and a production deployment picks nprobe off this
    * curve. Distances stay in q234's exact int64 micro-quantized
    * domain on both sides, so ranks cannot diverge across engines;
    * recall is integer ppm (`hits·10⁶ div n_exact`).
    *
    * Scale shape: the PQ codebook/codes/LUT build is q238's (bounded
    * Lloyd aggregates, broadcast LUT); candidates are scored by ONE
    * ADC aggregate at nprobe = max with the probe rank carried
    * (smaller-nprobe probed sets are prefixes of the max set and ADC
    * scores are arm-independent), keeping q238's probed-list
    * equi-join BELOW the aggregate (PlanShapeSpec pins it) — so the
    * full corpus is never ADC-scanned and the three arms are `pr ≤
    * np` filters plus top-5 windows over the one persisted scored
    * relation; the exact side is ONE q45-shaped broadcast scan,
    * persisted and reused by all three arms; the audit join and
    * rollup are queries×k rows.
    */
  val q242IvfAdcRecall: QueryDef = {
    val probes = Seq(1, 2, 4)
    val arms = probes.map { np =>
      s"""ap$np AS (SELECT q_id, vec_id FROM (
         |  SELECT a.q_id, a.vec_id,
         |    row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc_d2, a.vec_id) AS rank
         |  FROM (SELECT c.q_id, c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |    FROM (SELECT qp.q_id, k.vec_id, k.sub, k.cid
         |      FROM codes k JOIN asg a ON a.vec_id = k.vec_id
         |      JOIN (SELECT q_id, list_id FROM qd WHERE rn <= $np) qp
         |        ON qp.list_id = a.list_id
         |      WHERE k.vec_id <> qp.q_id) c
         |    JOIN lut l ON l.q_id = c.q_id AND l.sub = c.sub AND l.cid = c.cid
         |    GROUP BY c.q_id, c.vec_id) a) WHERE rank <= 5),
         |r$np AS (SELECT CAST($np AS BIGINT) AS nprobe, ex.q_id,
         |    count(*) AS n_exact, count(ap.vec_id) AS hits
         |  FROM ex LEFT JOIN ap$np ap
         |    ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
         |  GROUP BY ex.q_id)""".stripMargin
    }
    QueryDef.sql(
      "q242_ivfadc_recall",
      s"""$duckPqPrefix,
         |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
         |    list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
         |  FROM sv v JOIN c2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
         |$duckCentroids,
         |asg AS (SELECT vec_id, c_id AS list_id FROM (
         |  SELECT e.vec_id, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |qd AS (SELECT e.vec_id AS q_id, c.c_id AS list_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
         |  FROM embeddings e, cent c WHERE e.vec_id < 10),
         |lut AS (SELECT t.q_id, c.sub, c.cid,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
         |  FROM (SELECT vec_id AS q_id, sub, sq AS qsq FROM sv WHERE vec_id < 10) t
         |  JOIN c2 c ON t.sub = c.sub),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_sum(list_transform(generate_series(1, len(a.qe)),
         |        i -> (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i]))), b.vec_id) AS rank
         |  FROM q a, q b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
         |${arms.mkString(",\n")}
         |SELECT nprobe, q_id, n_exact, hits,
         |  CAST(hits * 1000000 // n_exact AS BIGINT) AS recall_ppm
         |FROM (${probes.map(np => s"SELECT * FROM r$np").mkString(" UNION ALL ")})
         |ORDER BY nprobe, q_id""".stripMargin) { (spark, dir) =>
      val q = kmeansQuantized(spark, dir)
      val sv = pqSubvectors(q, "vec_id")
      val c2 = pqTrainedCents(sv, q)
      val emb = Tables.embeddings(spark, dir)
      val lut = sv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sub"), col("sq").as("qsq"))
        .select(col("q_id"), col("sub"), col("qsq"),
          explode(element_at(subCodebooksLit(c2), col("sub") + 1)).as("c"))
        .select(col("q_id"), col("sub"), col("c._1").as("cid"),
          pqDist(col("qsq"), col("c._2")).as("d2"))
      val qRows = q.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe").as("qqe"))
      val wEx = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      // ONE exhaustive exact scan, shared by all three recall arms
      val exact = q.join(broadcast(qRows), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), pqDist(col("qe"), col("qqe")).as("d2"))
        .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= 5)
        .select("q_id", "vec_id")
        .scopedPersistEager()
      // ONE ADC scan shared by all three arms: probed lists at
      // nprobe < max are PREFIXES of the nprobe = max list (the coarse
      // ranking doesn't depend on nprobe), and a candidate's ADC score
      // doesn't depend on the arm — so score once at nprobe = max with
      // each candidate's probe rank `pr` carried (a vector belongs to
      // exactly one list, hence one pr per (q_id, vec_id)), and each
      // arm is just `pr <= np` + its own tiny top-5 window. This
      // replaced three full candidate-scoring passes (the dominant
      // stage: the r8 sweep had q242 as the suite's most expensive
      // query) with one.
      val npMax = probes.max
      val qp = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          posexplode(nearestCol(spark, dir, npMax, col("embedding")))
            .as(Seq("p0", "list_id")))
        .select(col("q_id"), col("list_id"), (col("p0") + 1).as("pr"))
      // ONE narrow corpus scan carries the coarse list AND all M PQ
      // codes per row (native per-row expressions — the codes ⋈ asg
      // corpus self-join is gone); the probed-list equi-join still
      // bounds candidates BEFORE any scoring
      val cand = emb.select(col("vec_id"),
          element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
          pqEncodeCol(c2, quantizeCol(col("embedding"))).as("codes"))
        .join(broadcast(qp), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("pr"),
          posexplode(col("codes")).as(Seq("sub", "cid")))
      // ONE ADC aggregate in the plan, by construction: each scored
      // row explodes to the arms it belongs to (np ≥ pr — probed sets
      // are prefixes) and one (np, q_id) window ranks all three arms.
      // Row-identical to the historical per-np filter+window+union
      // arms, which carried THREE copies of the aggregate subtree
      // through analysis/optimization/codegen (driver-CPU-bound —
      // procCpu ≈ 3× taskCpu in BENCH_DIAG) and leaned on
      // ReuseExchange to dedup them at runtime; the aggregate stays
      // visible to the PlanShapeSpec probed-list pin.
      val adc = cand.join(broadcast(lut), Seq("q_id", "sub", "cid"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2").as("adc_d2"), min("pr").as("pr"))
      val probesArr = array(probes.map(p => lit(p.toLong)): _*)
      val wNp = Window.partitionBy("np2", "q_id").orderBy(col("adc_d2"), col("vec_id"))
      val approx = adc
        .select(col("q_id"), col("vec_id"), col("adc_d2"),
          explode(filter(probesArr, p => p >= col("pr"))).as("np2"))
        .withColumn("rank", row_number().over(wNp)).filter(col("rank") <= 5)
        .select(col("np2"), col("q_id").as("q2"), col("vec_id").as("a_vid"))
      val exArms = exact.select(col("q_id"), col("vec_id"),
        explode(probesArr).as("nprobe"))
      exArms.join(approx,
          col("nprobe") === col("np2") && col("q_id") === col("q2") &&
            col("vec_id") === col("a_vid"), "left")
        .groupBy("nprobe", "q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("a_vid")).as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000L div n_exact"))
        .orderBy("nprobe", "q_id")
    }
  }

  /** q245: IVF imbalance factor (Jégou et al. TPAMI'11 §V-A) — the
    * index-quality audit that closes the IVFADC ops loop: γ =
    * K·Σ(nᵢ/N)² over the coarse lists. γ = 1 means perfectly balanced
    * lists; the expected fraction of the corpus an nprobe=1 query
    * ADC-scans is γ/K, so γ is the multiplier between the IDEAL probe
    * cost the q238/q241 plans promise and what a skewed codebook
    * actually delivers (and the trigger for re-training the q105
    * Lloyd codebook when ingest drift unbalances it — the batch twin
    * of q156's streaming distortion monitor). Integer-exact:
    * γ_ppm = K·Σnᵢ²·10⁶ div N². The long product K·Σnᵢ²·10⁶ is exact
    * to N ≈ 7.6e5·√K vectors — far past any single index shard; a
    * 100 TB deployment audits per shard and widens to DECIMAL(38)
    * under olsFitDf's policy if it ever pools shards.
    *
    * Scale shape: the assignment is the q67 zero-shuffle native
    * per-row codebook scan; on top of it ONE K-row hash aggregate and
    * ONE 1-row rollup — the whole audit is a single pass over the
    * index at full scan parallelism.
    */
  val q245IvfImbalance: QueryDef = QueryDef.sql(
    "q245_ivf_imbalance",
    s"""WITH $duckCentroids,
       |asg AS (SELECT vec_id, c_id AS list_id FROM (
       |  SELECT e.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1),
       |l AS (SELECT list_id, count(*) AS n_vecs FROM asg GROUP BY list_id)
       |SELECT CAST($NumCentroids AS BIGINT) AS k,
       |  CAST(sum(n_vecs) AS BIGINT) AS n,
       |  count(*) AS n_lists_used,
       |  CAST(max(n_vecs) AS BIGINT) AS max_list,
       |  CAST(min(n_vecs) AS BIGINT) AS min_list,
       |  CAST($NumCentroids * sum(n_vecs * n_vecs) * 1000000
       |    // (sum(n_vecs) * sum(n_vecs)) AS BIGINT) AS gamma_ppm
       |FROM l""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(
        element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"))
      .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
      .agg(sum("n_vecs").as("n"), count(lit(1)).as("n_lists_used"),
        max("n_vecs").as("max_list"), min("n_vecs").as("min_list"),
        sum(expr("n_vecs * n_vecs")).as("s2"))
      .select(lit(NumCentroids.toLong).as("k"), col("n"),
        col("n_lists_used"), col("max_list"), col("min_list"),
        expr(s"$NumCentroids * s2 * 1000000 div (n * n)").as("gamma_ppm"))
  }

  /** q246: residual-vs-raw IVFADC recall, side by side — the audit
    * that makes q241's existence justified by MEASUREMENT. Residual
    * encoding (Jégou et al. TPAMI'11 §IV, Table III) spends the same
    * M×K code budget on within-list geometry and is published to
    * improve recall at equal bytes; q242 measures only the raw-code
    * path, so until now that claim was assumed in this repo. One
    * output row per (nprobe ∈ {1,2,4}, query): the exact top-5 size,
    * hits and recall ppm for the RAW codes (q238's encoding, q242's
    * numbers) and for the RESIDUAL codes (q241's encoding) — a
    * deployment reads the two curves off the same relation and picks
    * the encoding + nprobe point it wants.
    *
    * Scale shape: both chains keep the one-shared-ADC-scan form that
    * reworked q242 (score once at nprobe = max with the probe rank
    * carried; arms are `pr ≤ np` filters — probed sets are prefixes
    * and ADC scores are arm-independent), and both keep q238's
    * probed-list equi-join BELOW the ADC aggregate (PlanShapeSpec
    * pins all six aggregate copies). The exact side is ONE q45-shaped
    * broadcast scan shared by all six arms. Everything driver-side
    * stays bounded: LUTs are ≤ |queries|·NProbe·M·K rows, broadcast.
    *
    * MEASURED DELTA (the honest part): on the synthetic fixtures the
    * residual curve sits BELOW the raw curve (sf0.01: 8/50 hits vs
    * 16-17/50 across the arms). Jégou's Table III advantage assumes a
    * TRAINED coarse quantizer — residuals are then small and
    * concentrated, so the M×K budget resolves finer structure. This
    * repo's coarse codebook is the q67 contract (the first 16 raw
    * vectors, untrained) over near-uniform synthetic embeddings, so
    * residuals are no smaller than the raw vectors and the residual
    * chain only inherits the seed's degeneracy. That is precisely why
    * the audit exists: the encoding choice must be read off THIS
    * relation for the actual corpus + codebook, not assumed from the
    * paper. (The recount spec pins the numbers, not a direction.)
    */
  /** The per-nprobe arm CTEs shared by q246/q248: raw top-5 (`ap\$np`
    * from `codes`/`lut`/`asg`/`qd`), residual top-5 (`rap\$np` from
    * `rcodes`/`rlut`) and the hit rollup against `ex` — callers
    * provide those relations under exactly these names. */
  private def duckRecallArms(probes: Seq[Int]): Seq[String] =
    probes.map { np =>
      s"""ap$np AS (SELECT q_id, vec_id FROM (
         |  SELECT a.q_id, a.vec_id,
         |    row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc_d2, a.vec_id) AS rank
         |  FROM (SELECT c.q_id, c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |    FROM (SELECT qp.q_id, k.vec_id, k.sub, k.cid
         |      FROM codes k JOIN asg a ON a.vec_id = k.vec_id
         |      JOIN (SELECT q_id, list_id FROM qd WHERE rn <= $np) qp
         |        ON qp.list_id = a.list_id
         |      WHERE k.vec_id <> qp.q_id) c
         |    JOIN lut l ON l.q_id = c.q_id AND l.sub = c.sub AND l.cid = c.cid
         |    GROUP BY c.q_id, c.vec_id) a) WHERE rank <= 5),
         |rap$np AS (SELECT q_id, vec_id FROM (
         |  SELECT a.q_id, a.vec_id,
         |    row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc_d2, a.vec_id) AS rank
         |  FROM (SELECT c.q_id, c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |    FROM (SELECT qp.q_id, qp.list_id, k.vec_id, k.sub, k.cid
         |      FROM rcodes k JOIN asg a ON a.vec_id = k.vec_id
         |      JOIN (SELECT q_id, list_id FROM qd WHERE rn <= $np) qp
         |        ON qp.list_id = a.list_id
         |      WHERE k.vec_id <> qp.q_id) c
         |    JOIN rlut l ON l.q_id = c.q_id AND l.list_id = c.list_id
         |      AND l.sub = c.sub AND l.cid = c.cid
         |    GROUP BY c.q_id, c.vec_id) a) WHERE rank <= 5),
         |r$np AS (SELECT CAST($np AS BIGINT) AS nprobe, ex.q_id,
         |    count(*) AS n_exact,
         |    count(ap.vec_id) AS hits_raw, count(rap.vec_id) AS hits_res
         |  FROM ex LEFT JOIN ap$np ap
         |    ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
         |  LEFT JOIN rap$np rap
         |    ON rap.q_id = ex.q_id AND rap.vec_id = ex.vec_id
         |  GROUP BY ex.q_id)""".stripMargin
    }

  private def duckRecallTail(probes: Seq[Int]): String =
    s"""SELECT nprobe, q_id, n_exact,
       |  hits_raw, CAST(hits_raw * 1000000 // n_exact AS BIGINT) AS recall_raw_ppm,
       |  hits_res, CAST(hits_res * 1000000 // n_exact AS BIGINT) AS recall_res_ppm
       |FROM (${probes.map(np => s"SELECT * FROM r$np").mkString(" UNION ALL ")})
       |ORDER BY nprobe, q_id""".stripMargin

  /** The Spark-side arm/rollup tail shared by q246/q248: each scored
    * row explodes to the probe arms it belongs to (`np ≥ pr` — probed
    * sets are prefixes), ONE (np, q_id) top-5 window per encoding,
    * hits against the shared exact top-5, one rollup per
    * (nprobe, q_id). Row-identical to the historical per-np
    * filter+window+union arms, with ONE copy of each scored relation
    * in the plan instead of three (the union form tripled the
    * analyzed/optimized/codegen'd plan — these queries are
    * driver-CPU-bound, procCpu ≈ 3× taskCpu in BENCH_DIAG — and
    * leaned on ReuseExchange to dedup the copies at runtime). */
  private def recallCompare(probes: Seq[Int], exact: DataFrame,
      adcRaw: DataFrame, adcRes: DataFrame): DataFrame = {
    val probesArr = array(probes.map(p => lit(p.toLong)): _*)
    def armsOf(adc: DataFrame, tag: String): DataFrame = {
      val w = Window.partitionBy("np", "q_id").orderBy(col("adc_d2"), col("vec_id"))
      adc
        .select(col("q_id"), col("vec_id"), col("adc_d2"),
          explode(filter(probesArr, p => p >= col("pr"))).as("np"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("np").as(s"np_$tag"), col("q_id").as(s"q_$tag"),
          col("vec_id").as(s"v_$tag"))
    }
    val rawArms = armsOf(adcRaw, "raw")
    val resArms = armsOf(adcRes, "res")
    val exArms = exact.select(col("q_id"), col("vec_id"),
      explode(probesArr).as("nprobe"))
    exArms
      .join(rawArms,
        col("nprobe") === col("np_raw") && col("q_id") === col("q_raw") &&
          col("vec_id") === col("v_raw"), "left")
      .join(resArms,
        col("nprobe") === col("np_res") && col("q_id") === col("q_res") &&
          col("vec_id") === col("v_res"), "left")
      .groupBy("nprobe", "q_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("v_raw")).as("hits_raw"), count(col("v_res")).as("hits_res"))
      .withColumn("recall_raw_ppm", expr("hits_raw * 1000000L div n_exact"))
      .withColumn("recall_res_ppm", expr("hits_res * 1000000L div n_exact"))
      .select("nprobe", "q_id", "n_exact", "hits_raw", "recall_raw_ppm",
        "hits_res", "recall_res_ppm")
      .orderBy("nprobe", "q_id")
  }

  val q246ResidualRecall: QueryDef = {
    val probes = Seq(1, 2, 4)
    val npMax = probes.max
    val arms = duckRecallArms(probes)
    QueryDef.sql(
      "q246_residual_recall",
      s"""$duckPqPrefix,
         |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
         |    list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
         |  FROM sv v JOIN c2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
         |$duckCentroids,
         |asg AS (SELECT vec_id, c_id AS list_id FROM (
         |  SELECT e.vec_id, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
         |  FROM embeddings e, cent c) WHERE rn = 1),
         |cq0 AS (SELECT vec_id AS list_id, qe AS cqe FROM q WHERE vec_id < $NumCentroids),
         |rq AS (SELECT v.vec_id, list_transform(v.qe, (x, i) -> x - c.cqe[i]) AS qe
         |  FROM q v JOIN asg a ON a.vec_id = v.vec_id
         |  JOIN cq0 c ON c.list_id = a.list_id),
         |rsv AS (SELECT vec_id, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS sq
         |  FROM rq, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |rsid AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe
         |  FROM rq ORDER BY vec_id LIMIT $PqK),
         |rc0 AS (SELECT cid, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS cq
         |  FROM rsid, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |${duckPqIterOn("rsv", "rc0", "ra1", "ru1", "rc1")},
         |${duckPqIterOn("rsv", "rc1", "ra2", "ru2", "rc2")},
         |rcodes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
         |    list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
         |  FROM rsv v JOIN rc2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
         |qd AS (SELECT e.vec_id AS q_id, c.c_id AS list_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
         |  FROM embeddings e, cent c WHERE e.vec_id < 10),
         |lut AS (SELECT t.q_id, c.sub, c.cid,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
         |  FROM (SELECT vec_id AS q_id, sub, sq AS qsq FROM sv WHERE vec_id < 10) t
         |  JOIN c2 c ON t.sub = c.sub),
         |qr AS (SELECT d.q_id, d.list_id,
         |    list_transform(v.qe, (x, i) -> x - c.cqe[i]) AS rqe
         |  FROM (SELECT q_id, list_id FROM qd WHERE rn <= $npMax) d
         |  JOIN q v ON v.vec_id = d.q_id
         |  JOIN cq0 c ON c.list_id = d.list_id),
         |rqsv AS (SELECT q_id, list_id, s.sub,
         |    list_slice(rqe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS qsq
         |  FROM qr, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |rlut AS (SELECT t.q_id, t.list_id, c.sub, c.cid,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
         |  FROM rqsv t JOIN rc2 c ON t.sub = c.sub),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_sum(list_transform(generate_series(1, len(a.qe)),
         |        i -> (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i]))), b.vec_id) AS rank
         |  FROM q a, q b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
         |${arms.mkString(",\n")}
         |${duckRecallTail(probes)}""".stripMargin) { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      // the 16-row coarse codebook (quantized) as a collected literal
      // map — the residual subtraction is a per-row lookup, no join
      val cq0 = typedlit(collectIdVecs(
        emb.filter(col("vec_id") < NumCentroids)
          .select(col("vec_id"), quantizeCol(col("embedding")).as("qe")),
        "vec_id").toMap)
      // ---- shared: ONE persisted base scan carries the quantized
      // vector, its coarse list AND its residual (all native per-row
      // expressions) — both chains and the exact side read it, so the
      // old q/asg/qres trio of corpus relations collapses to one
      val base = emb
        .select(col("vec_id"),
          element_at(nearestCol(spark, dir, 1, col("embedding")), 1).as("list_id"),
          quantizeCol(col("embedding")).as("qe0"))
        .withColumn("qeres", subArrCol(col("qe0"), element_at(cq0, col("list_id"))))
        .scopedPersist()
      val qn = base.select(col("vec_id"), col("qe0").as("qe"))
      val qres = base.select(col("vec_id"), col("list_id"), col("qeres").as("qe"))
      val qp = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          posexplode(nearestCol(spark, dir, npMax, col("embedding")))
            .as(Seq("p0", "list_id")))
        .select(col("q_id"), col("list_id"), (col("p0") + 1).as("pr"))
      val qRows = qn.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe").as("qqe"))
      val wEx = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      val exact = qn.join(broadcast(qRows), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), pqDist(col("qe"), col("qqe")).as("d2"))
        .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= 5)
        .select("q_id", "vec_id")
        .scopedPersistEager()
      // ---- raw chain (q242's scored relation) ----
      val sv = pqSubvectors(qn, "vec_id")
      val c2 = pqTrainedCents(sv, qn)
      val lut = sv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sub"), col("sq").as("qsq"))
        .select(col("q_id"), col("sub"), col("qsq"),
          explode(element_at(subCodebooksLit(c2), col("sub") + 1)).as("c"))
        .select(col("q_id"), col("sub"), col("c._1").as("cid"),
          pqDist(col("qsq"), col("c._2")).as("d2"))
      val candRaw = base.join(broadcast(qp), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("pr"),
          posexplode(pqEncodeCol(c2, col("qe0"))).as(Seq("sub", "cid")))
      val adcRaw = candRaw.join(broadcast(lut), Seq("q_id", "sub", "cid"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2").as("adc_d2"), min("pr").as("pr"))
      // ---- residual chain (q241's, with the probe rank carried) ----
      val rsv = pqSubvectors(qres, "vec_id")
      val rc2 = pqTrainedCents(rsv, qres)
      val qr = qp.join(qn.select(col("vec_id").as("q_id"), col("qe")), "q_id")
        .select(col("q_id"), col("list_id"),
          subArrCol(col("qe"), element_at(cq0, col("list_id"))).as("rqe"))
      val rqsv = qr.select(col("q_id"), col("list_id"), posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          s => slice(col("rqe"), s * lit(PqDsub) + 1, lit(PqDsub))))
        .as(Seq("sub", "qsq")))
      val rlut = rqsv
        .select(col("q_id"), col("list_id"), col("sub"), col("qsq"),
          explode(element_at(subCodebooksLit(rc2), col("sub") + 1)).as("c"))
        .select(col("q_id"), col("list_id"), col("sub"), col("c._1").as("cid"),
          pqDist(col("qsq"), col("c._2")).as("d2"))
      val candRes = base.join(broadcast(qp), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("list_id"), col("vec_id"), col("pr"),
          posexplode(pqEncodeCol(rc2, col("qeres"))).as(Seq("sub", "cid")))
      val adcRes = candRes.join(broadcast(rlut), Seq("q_id", "list_id", "sub", "cid"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2").as("adc_d2"), min("pr").as("pr"))
      recallCompare(probes, exact, adcRaw, adcRes)
    }
  }

  /** q248: the q246 recall comparison under the TRAINED coarse
    * quantizer — the audit made actionable. q246 measured residual
    * encoding LOSING to raw codes under the q67-contract codebook
    * (first 16 raw vectors, untrained) and attributed the inversion
    * to residuals having no structure to shrink against an arbitrary
    * codebook. q248 tests that attribution: same corpus, same PQ
    * budget, same probes — but the coarse quantizer is q105's trained
    * integer-Lloyd codebook (K = 8), assignment and probe ranking in
    * the exact micro-quantized domain (packed-argmin ties, so labels
    * are bit-identical to training on any engine). Reading q246 and
    * q248 together is the retraining decision a deployment makes
    * alongside the q245 imbalance audit: residual encoding pays for
    * itself only when the coarse codebook is worth taking residuals
    * against.
    *
    * Scale shape: coarse assignment is one K-row broadcast cross join
    * + packed-argmin hash aggregate (the q105 pattern — no window on
    * the corpus path); probe ranking windows only the |queries|×K
    * broadcast-size relation; both PQ chains, LUTs, the probed-list
    * candidate bound and the one-shared-ADC-scan arms are exactly
    * q246's (PlanShapeSpec pins all six aggregates' probed-list
    * bound).
    *
    * MEASURED (sf0.01, 10 queries, totals over the arms): residual
    * 15/50 hits vs raw 12-13/50 at every nprobe — the inversion of
    * q246's untrained-codebook result (raw 16-17, residual 8). The
    * pair of audits reproduces Jégou's Table III direction exactly
    * when its precondition (a trained coarse quantizer) holds, and
    * its opposite when it doesn't.
    */
  val q248TrainedCoarseRecall: QueryDef = {
    val probes = Seq(1, 2, 4)
    val npMax = probes.max
    val arms = duckRecallArms(probes)
    val coarseD2 =
      s"""list_sum(list_transform(generate_series(1, len(qe)),
         |      i -> (qe[i] - c.cq[i]) * (qe[i] - c.cq[i])))""".stripMargin
    QueryDef.sql(
      "q248_trained_coarse_recall",
      s"""$duckKmeansPrefix,
         |asg AS (SELECT vec_id, arg_min(c.cid,
         |    $coarseD2 * $KmeansK + c.cid) AS list_id
         |  FROM q CROSS JOIN c2 c GROUP BY vec_id),
         |qd AS (SELECT q_id, list_id, rn FROM (
         |  SELECT q.vec_id AS q_id, c.cid AS list_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY $coarseD2, c.cid) AS rn
         |  FROM q CROSS JOIN c2 c WHERE q.vec_id < 10)),
         |sv AS (SELECT vec_id, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS sq
         |  FROM q, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |psid AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe
         |  FROM q ORDER BY vec_id LIMIT $PqK),
         |pc0 AS (SELECT cid, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS cq
         |  FROM psid, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |${duckPqIterOn("sv", "pc0", "pa1", "pu1", "pc1")},
         |${duckPqIterOn("sv", "pc1", "pa2", "pu2", "pc2")},
         |codes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
         |    list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
         |  FROM sv v JOIN pc2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
         |lut AS (SELECT t.q_id, c.sub, c.cid,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
         |  FROM (SELECT vec_id AS q_id, sub, sq AS qsq FROM sv WHERE vec_id < 10) t
         |  JOIN pc2 c ON t.sub = c.sub),
         |rq AS (SELECT v.vec_id, list_transform(v.qe, (x, i) -> x - c.cq[i]) AS qe
         |  FROM q v JOIN asg a ON a.vec_id = v.vec_id
         |  JOIN c2 c ON c.cid = a.list_id),
         |rsv AS (SELECT vec_id, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS sq
         |  FROM rq, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |rsid AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe
         |  FROM rq ORDER BY vec_id LIMIT $PqK),
         |rc0 AS (SELECT cid, s.sub,
         |    list_slice(qe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS cq
         |  FROM rsid, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |${duckPqIterOn("rsv", "rc0", "ra1", "ru1", "rc1")},
         |${duckPqIterOn("rsv", "rc1", "ra2", "ru2", "rc2")},
         |rcodes AS (SELECT v.vec_id, v.sub, arg_min(c.cid,
         |    list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (v.sq[i] - c.cq[i]) * (v.sq[i] - c.cq[i]))) * $PqK + c.cid) AS cid
         |  FROM rsv v JOIN rc2 c ON v.sub = c.sub GROUP BY v.vec_id, v.sub),
         |qr AS (SELECT d.q_id, d.list_id,
         |    list_transform(v.qe, (x, i) -> x - c.cq[i]) AS rqe
         |  FROM (SELECT q_id, list_id FROM qd WHERE rn <= $npMax) d
         |  JOIN q v ON v.vec_id = d.q_id
         |  JOIN c2 c ON c.cid = d.list_id),
         |rqsv AS (SELECT q_id, list_id, s.sub,
         |    list_slice(rqe, s.sub * $PqDsub + 1, (s.sub + 1) * $PqDsub) AS qsq
         |  FROM qr, unnest(generate_series(0, ${PqM - 1})) AS s(sub)),
         |rlut AS (SELECT t.q_id, t.list_id, c.sub, c.cid,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub),
         |      i -> (t.qsq[i] - c.cq[i]) * (t.qsq[i] - c.cq[i]))) AS BIGINT) AS d2
         |  FROM rqsv t JOIN rc2 c ON t.sub = c.sub),
         |ex AS (SELECT q_id, vec_id FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_sum(list_transform(generate_series(1, len(a.qe)),
         |        i -> (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i]))), b.vec_id) AS rank
         |  FROM q a, q b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
         |${arms.mkString(",\n")}
         |${duckRecallTail(probes)}""".stripMargin) { (spark, dir) =>
      val q = kmeansQuantized(spark, dir)
      // trained coarse codebook: q105's final centroids (K = 8),
      // collected — assignment, residual and probe ranking all become
      // per-row expressions / tiny literal explodes
      val coarse = kmeansTrainedCents(q)
      val coarseMap = typedlit(coarse._1.zip(coarse._2).toMap)
      // ONE persisted base scan: trained list id AND residual per row
      // (native argmin + literal-map subtract — the historical version
      // was a K-way crossJoin + packed-argmin re-aggregation of the
      // corpus; this is a narrow zero-shuffle projection)
      val base = q
        .select(col("vec_id"), nearestCodeCol(coarse, col("qe")).as("list_id"),
          col("qe").as("qe0"))
        .withColumn("qe", subArrCol(col("qe0"), element_at(coarseMap, col("list_id"))))
        .scopedPersist()
      val qres = base.select("vec_id", "list_id", "qe")
      // probe ranks for the 10 queries over the K-row codebook literal
      val wProbe = Window.partitionBy("q_id").orderBy(col("d2"), col("list_id"))
      val qp = q.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe"),
          explode(codebookLit(coarse)).as("c"))
        .select(col("q_id"), col("c._1").as("list_id"),
          l2Col(col("qe"), col("c._2")).as("d2"))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= npMax)
        .select("q_id", "list_id", "pr")
      // shared exact side (q246's)
      val qRows = q.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe").as("qqe"))
      val wEx = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      val exact = q.join(broadcast(qRows), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), pqDist(col("qe"), col("qqe")).as("d2"))
        .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= 5)
        .select("q_id", "vec_id")
        .scopedPersistEager()
      // raw PQ chain (independent of the coarse codebook); candidates
      // read the persisted qres for the trained list id and encode the
      // raw vector natively — the codes ⋈ asg joins are gone
      val sv = pqSubvectors(q, "vec_id")
      val pc2 = pqTrainedCents(sv, q)
      val lut = sv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("sub"), col("sq").as("qsq"))
        .select(col("q_id"), col("sub"), col("qsq"),
          explode(element_at(subCodebooksLit(pc2), col("sub") + 1)).as("c"))
        .select(col("q_id"), col("sub"), col("c._1").as("cid"),
          pqDist(col("qsq"), col("c._2")).as("d2"))
      val candRaw = base.join(broadcast(qp), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("pr"),
          posexplode(pqEncodeCol(pc2, col("qe0"))).as(Seq("sub", "cid")))
      val adcRaw = candRaw.join(broadcast(lut), Seq("q_id", "sub", "cid"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2").as("adc_d2"), min("pr").as("pr"))
      // residual chain vs the TRAINED centroids (quantized domain);
      // the residual relation is the persisted qres
      val rsv = pqSubvectors(qres, "vec_id")
      val rc2 = pqTrainedCents(rsv, qres)
      val qr = qp.join(q.select(col("vec_id").as("q_id"), col("qe")), "q_id")
        .select(col("q_id"), col("list_id"),
          subArrCol(col("qe"), element_at(coarseMap, col("list_id"))).as("rqe"))
      val rqsv = qr.select(col("q_id"), col("list_id"), posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          s => slice(col("rqe"), s * lit(PqDsub) + 1, lit(PqDsub))))
        .as(Seq("sub", "qsq")))
      val rlut = rqsv
        .select(col("q_id"), col("list_id"), col("sub"), col("qsq"),
          explode(element_at(subCodebooksLit(rc2), col("sub") + 1)).as("c"))
        .select(col("q_id"), col("list_id"), col("sub"), col("c._1").as("cid"),
          pqDist(col("qsq"), col("c._2")).as("d2"))
      val candRes = qres
        .join(broadcast(qp), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("list_id"), col("vec_id"), col("pr"),
          posexplode(pqEncodeCol(rc2, col("qe"))).as(Seq("sub", "cid")))
      val adcRes = candRes.join(broadcast(rlut), Seq("q_id", "list_id", "sub", "cid"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2").as("adc_d2"), min("pr").as("pr"))
      recallCompare(probes, exact, adcRaw, adcRes)
    }
  }

  /** q249: imbalance factor of the TRAINED coarse index — q245's γ
    * audit applied to q248's q105-trained codebook, so both deployable
    * indexes carry the same probe-cost certificate. γ = K·Σ(nᵢ/N)²;
    * γ/K is the expected corpus fraction an nprobe=1 query ADC-scans.
    * Reading q245 (untrained γ) against q249 (trained γ) alongside
    * q246/q248 (recall under each codebook) is the complete
    * index-selection decision: Lloyd training should both balance the
    * lists (lower γ → cheaper probes) and shrink residuals (higher
    * residual-PQ recall) — and both effects are now measured, not
    * assumed. Assignment runs in the exact micro-quantized domain
    * with q105's packed-argmin tie rule, so list labels are
    * bit-identical to training.
    *
    * Scale shape: one K-row broadcast cross join + packed-argmin
    * hash aggregate (map-side combine collapses the K copies), one
    * K-row aggregate, one 1-row rollup.
    *
    * MEASURED (sf0.01): trained γ = 1.009 (lists 53-71 around the
    * 62.5 ideal) vs q245's untrained γ = 1.028 — Lloyd training
    * measurably balances the lists, exactly the direction the probe-
    * cost model needs.
    */
  val q249TrainedIvfImbalance: QueryDef = QueryDef.sql(
    "q249_trained_ivf_imbalance",
    s"""$duckKmeansPrefix,
       |asg AS (SELECT vec_id, arg_min(c.cid,
       |    list_sum(list_transform(generate_series(1, len(qe)),
       |      i -> (qe[i] - c.cq[i]) * (qe[i] - c.cq[i]))) * $KmeansK + c.cid) AS list_id
       |  FROM q CROSS JOIN c2 c GROUP BY vec_id),
       |l AS (SELECT list_id, count(*) AS n_vecs FROM asg GROUP BY list_id)
       |SELECT CAST($KmeansK AS BIGINT) AS k,
       |  CAST(sum(n_vecs) AS BIGINT) AS n,
       |  count(*) AS n_lists_used,
       |  CAST(max(n_vecs) AS BIGINT) AS max_list,
       |  CAST(min(n_vecs) AS BIGINT) AS min_list,
       |  CAST($KmeansK * sum(n_vecs * n_vecs) * 1000000
       |    // (sum(n_vecs) * sum(n_vecs)) AS BIGINT) AS gamma_ppm
       |FROM l""".stripMargin) { (spark, dir) =>
    val q = kmeansQuantized(spark, dir)
    // collected trained codebook → assignment is one narrow native
    // projection (no crossJoin, no packed-argmin re-aggregation)
    val coarse = kmeansTrainedCents(q)
    q.select(nearestCodeCol(coarse, col("qe")).as("list_id"))
      .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
      .agg(sum("n_vecs").as("n"), count(lit(1)).as("n_lists_used"),
        max("n_vecs").as("max_list"), min("n_vecs").as("min_list"),
        sum(expr("n_vecs * n_vecs")).as("s2"))
      .select(lit(KmeansK.toLong).as("k"), col("n"),
        col("n_lists_used"), col("max_list"), col("min_list"),
        expr(s"$KmeansK * s2 * 1000000 div (n * n)").as("gamma_ppm"))
  }

  val all: Seq[QueryDef] = Seq(q45CosineTopK, q46AnnBuckets, q47AnnTopK, q200Silhouette, q220EmbeddingHealth, q224DimRedundancy,
    q48EmbeddingNearDup, q67IvfAssign, q68IvfTopK, q91QuantizedTopK,
    q105KmeansTrain, q155SemdedupPrune, q165AnnRecall, q170PowerIteration,
    q177MultiprobeTopK, q234PqCodebook, q235PqAdcTopk, q238IvfAdcTopk,
    q239SemdedupCells, q240NearDupCells, q241ResidualIvfAdc, q242IvfAdcRecall,
    q245IvfImbalance, q246ResidualRecall, q248TrainedCoarseRecall,
    q249TrainedIvfImbalance)
}
