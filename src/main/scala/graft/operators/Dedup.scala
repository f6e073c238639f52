package graft.operators

import graft.QueryDef
import graft.functions.TextHash
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.CacheScope.ScopedDataset

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash group-by), MinHash signatures, LSH candidate pairs,
  * exact n-gram Jaccard verification, and SimHash — all over the
  * `documents` table.
  *
  * Scale design: signatures/simhash are computed per-row with array
  * expressions (no explode, no shuffle — one narrow projection over
  * the corpus); the only shuffles are the ones dedup fundamentally
  * needs (group-by text hash for exact dedup, the LSH bucket join for
  * candidate generation). At 100 TB the bucket join is an equi-join
  * on (band, key) — hash-partitionable, hot keys block-joined by
  * [[BoundedPairs]] — never an all-pairs comparison.
  */
object Dedup {

  import TextHash._

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** doc_id → shingle-hash array (docs shorter than k words drop).
    * Tokenization and hashing run in separate projection steps (each
    * column referenced multiple times downstream, so Catalyst cannot
    * inline them into per-element lambdas), and the result is
    * persisted: every dedup query consumes this table, and at
    * production scale it is the materialize-once signature input.
    */
  private[graft] def hashedFromDocs(documents: DataFrame): DataFrame =
    // NOT spread (Tables.spread): measured in-JVM A/B — every dedup
    // query re-derives the banding projection from this cache several
    // times (see lshPairsFrom scaladoc), so 32-partition task overhead
    // multiplies across references and rounds (q43 2.33x, q230 1.52x,
    // q41 1.43x, q129 1.40x worse with spread); the native shingle
    // kernel itself is ~0.3 s serial at bench scale
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), shingleHashesFromWords(col("ws")).as("hs"))
      .filter(size(col("hs")) > 0)
      .scopedPersistEager()

  private def hashed(spark: SparkSession, dir: String): DataFrame =
    hashedFromDocs(docs(spark, dir))

  /** 100 TB path for the signature relation: `.scopedPersist()` implicitly
    * assumes the shingle-hash table fits cluster memory/disk cache —
    * at corpus scale the materialize-once input must be an EXPLICIT
    * parquet table instead. Writes the relation partitioned-by-hash
    * bucket-friendly (plain parquet; callers choose partitioning) and
    * returns the on-disk reader every downstream dedup stage shares.
    */
  def materializeSignatures(spark: SparkSession, documents: DataFrame,
      path: String): DataFrame = {
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), shingleHashesFromWords(col("ws")).as("hs"))
      .filter(size(col("hs")) > 0)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Per-doc MinHash signature rows (doc_id, perm, mh) — the native
    * [[graft.functions.MinHashSignature]] loop over the cached
    * shingle hashes, exploded only for the declared output.
    */
  private def signatureRows(spark: SparkSession, dir: String): DataFrame =
    hashed(spark, dir)
      .select(col("doc_id"), posexplode(minhashSignature(col("hs"))).as(Seq("perm", "mh")))

  /** Per-doc LSH band keys: 4 bands × 4 signature rows, key = CSV of
    * the band's minhashes in perm order.
    */
  private[graft] def bandKeysFrom(hashedDf: DataFrame): DataFrame =
    hashedDf
      .withColumn("sig", minhashSignature(col("hs")).cast("array<string>"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${NumBands - 1}), b ->
           |  struct(b as band, concat_ws(',', slice(sig, b * $BandRows + 1, $BandRows)) as key))""".stripMargin)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Candidate near-dup pairs: docs sharing any full LSH band — the
    * [[BoundedPairs.Exact]] self-join on `(band, key)`, collapsed
    * across bands by one `distinct`. Each reference to the band-key
    * relation recomputes only the in-memory banding projection over
    * the persisted shingle hashes ([[hashedFromDocs]]), measured
    * cheaper than pinning the banded table at bench scale; at
    * production scale [[materializeSignatures]] writes the signature
    * relation to parquet once instead.
    */
  private[graft] def lshPairsFrom(bandKeysDf: DataFrame,
      mode: BoundedPairs.Exact = BoundedPairs.Exact()): DataFrame =
    BoundedPairs(bandKeysDf, Seq("band", "key"), "doc_id", mode = mode)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
      .distinct()

  private def lshPairs(spark: SparkSession, dir: String): DataFrame =
    lshPairsFrom(bandKeys(spark, dir))

  private def bandKeys(spark: SparkSession, dir: String): DataFrame =
    bandKeysFrom(hashed(spark, dir))

  private val duckSig =
    s"""${duckShingleCte()}, $duckPermsValues,
       |sig AS (SELECT doc_id, p, min((a * h + b) % $Prime) AS mh
       |  FROM sh, perms GROUP BY doc_id, p)""".stripMargin

  private val duckPairs =
    s"""bnd AS (SELECT doc_id, p // $BandRows AS band,
       |    string_agg(mh, ',' ORDER BY p) AS key
       |  FROM sig GROUP BY doc_id, band),
       |prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bnd x JOIN bnd y ON x.band = y.band AND x.key = y.key
       |    AND x.doc_id < y.doc_id)""".stripMargin

  /** Exact dedup: identical text collapses to the minimum doc_id.
    * Grouped on `md5(text)`, not the text itself, so the shuffle key
    * is 32 chars instead of the full document — at 100 TB that is
    * the difference between shuffling the corpus and shuffling a
    * fingerprint table (same move as q54/q76/q80). The oracle groups
    * by raw text: identical results unless MD5 collides, which at
    * any realistic corpus size it does not.
    */
  val q40ExactDedup: QueryDef = QueryDef.sql(
    "q40_exact_dedup",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (spark, dir) =>
    docs(spark, dir).groupBy(md5(col("text")))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** MinHash signatures: 16 affine permutations over 3-word shingle
    * hashes (doc_id, perm, mh).
    */
  val q41MinhashSignature: QueryDef = QueryDef.sql(
    "q41_minhash_signature",
    s"""WITH $duckSig
       |SELECT doc_id, p AS perm, mh FROM sig
       |ORDER BY doc_id, perm""".stripMargin) { (spark, dir) =>
    signatureRows(spark, dir).orderBy("doc_id", "perm")
  }

  /** LSH candidate pairs: any shared (band, 4-row key) bucket. */
  val q42LshPairs: QueryDef = QueryDef.sql(
    "q42_lsh_pairs",
    s"""WITH $duckSig, $duckPairs
       |SELECT doc_a, doc_b FROM prs ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    lshPairs(spark, dir).orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard similarity of each LSH candidate pair,
    * computed on distinct shingle-hash sets with array intersection
    * (no second explode-join).
    */
  val q43JaccardVerify: QueryDef = QueryDef.sql(
    "q43_jaccard_verify",
    s"""WITH $duckSig, $duckPairs,
       |ds AS (SELECT DISTINCT doc_id, h FROM sh),
       |cnt AS (SELECT doc_id, count(*) AS c FROM ds GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS i
       |  FROM prs p JOIN ds x ON x.doc_id = p.doc_a
       |  JOIN ds y ON y.doc_id = p.doc_b AND y.h = x.h
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT p.doc_a, p.doc_b,
       |  round(coalesce(i.i, 0) / (ca.c + cb.c - coalesce(i.i, 0)), 6) AS jaccard
       |FROM prs p
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN cnt ca ON ca.doc_id = p.doc_a
       |JOIN cnt cb ON cb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (spark, dir) =>
    val sets = hashed(spark, dir)
      .select(col("doc_id"), array_distinct(col("hs")).as("hset"))
    lshPairs(spark, dir)
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("ha")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("ha"), col("hb"))) /
          size(array_union(col("ha"), col("hb"))), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance verification of the LSH candidate pairs — the
    * character-level complement to q43's token-set Jaccard (catches
    * small in-word edits that leave most 3-word shingles intact but
    * shift tokens). Levenshtein is O(n·m) per pair, so it runs on a
    * fixed 120-char prefix: the DP cost is a bounded constant
    * (≤ 14 400 cells) per candidate, and ONLY the LSH survivors pay
    * it — never the corpus cross product. Similarity is exact integer
    * ppm (`1e6 − d·1e6 div max(len)`), deterministic on any engine.
    */
  val q128EditDistance: QueryDef = QueryDef.sql(
    "q128_edit_distance",
    s"""WITH $duckSig, $duckPairs
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) AS BIGINT) AS edit_dist,
       |  CAST(1000000 - (levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) * 1000000)
       |    // greatest(length(substr(a.text, 1, 120)), length(substr(b.text, 1, 120)), 1) AS BIGINT) AS sim_ppm
       |FROM prs p
       |JOIN documents a ON a.doc_id = p.doc_a
       |JOIN documents b ON b.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (spark, dir) =>
    val prefix = docs(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 120).as("px"))
    lshPairs(spark, dir)
      .join(prefix.select(col("doc_id").as("doc_a"), col("px").as("pa")), Seq("doc_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("px").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
        length(col("pa")).as("la"), length(col("pb")).as("lb"))
      .selectExpr("doc_a", "doc_b", "edit_dist",
        "CAST(1000000 - (edit_dist * 1000000) div greatest(la, lb, 1) AS BIGINT) AS sim_ppm")
      .orderBy("doc_a", "doc_b")
  }

  /** Jaccard CONTAINMENT of each LSH candidate pair — |A∩B|/|A| and
    * |A∩B|/|B| in exact integer ppm. Containment is the dedup signal
    * Jaccard misses: a short document wholly embedded in a long one
    * scores near-zero Jaccard but 1e6 containment, which is exactly
    * the quote/boilerplate-inclusion case a training-data pipeline
    * prunes. Same scale shape as q43: candidates only, set
    * intersection on the persisted distinct shingle arrays.
    */
  val q129Containment: QueryDef = QueryDef.sql(
    "q129_containment",
    s"""WITH $duckSig, $duckPairs,
       |ds AS (SELECT DISTINCT doc_id, h FROM sh),
       |cnt AS (SELECT doc_id, count(*) AS c FROM ds GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS i
       |  FROM prs p JOIN ds x ON x.doc_id = p.doc_a
       |  JOIN ds y ON y.doc_id = p.doc_b AND y.h = x.h
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT p.doc_a, p.doc_b,
       |  CAST((coalesce(i.i, 0) * 1000000) // ca.c AS BIGINT) AS cont_a_ppm,
       |  CAST((coalesce(i.i, 0) * 1000000) // cb.c AS BIGINT) AS cont_b_ppm
       |FROM prs p
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN cnt ca ON ca.doc_id = p.doc_a
       |JOIN cnt cb ON cb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin) { (spark, dir) =>
    val sets = hashed(spark, dir)
      .select(col("doc_id"), array_distinct(col("hs")).as("hset"))
    lshPairs(spark, dir)
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("ha")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("i"),
        size(col("ha")).cast("long").as("ca"), size(col("hb")).cast("long").as("cb"))
      .selectExpr("doc_a", "doc_b",
        "CAST((i * 1000000) div ca AS BIGINT) AS cont_a_ppm",
        "CAST((i * 1000000) div cb AS BIGINT) AS cont_b_ppm")
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL dedup — the production shape: a new DELTA batch
    * (doc_id ≡ 0 mod 3 here; a fresh crawl in production) admitted
    * against an existing BASE corpus, never base-vs-base. Two stages:
    * exact (anti join on the content hash) then near-dup (delta band
    * keys equi-joined to BASE band keys only — the candidate space is
    * |delta|-proportional, not |corpus|², which is what makes daily
    * ingest O(delta) while the base index is a materialized relation
    * reused every batch). The Jaccard ≥ 0.8 gate compares with
    * integer cross-multiplication (5·i ≥ 4·(ca+cb−i)) — no float
    * threshold edge. Output: the delta docs that survive admission.
    */
  val q142DeltaDedup: QueryDef = QueryDef.sql(
    "q142_delta_dedup",
    s"""WITH $duckSig,
       |bnd AS (SELECT doc_id, p // $BandRows AS band,
       |    string_agg(mh, ',' ORDER BY p) AS key
       |  FROM sig GROUP BY doc_id, band),
       |dpr AS (SELECT DISTINCT x.doc_id AS dd, y.doc_id AS bd
       |  FROM bnd x JOIN bnd y ON x.band = y.band AND x.key = y.key
       |  WHERE x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0),
       |ds AS (SELECT DISTINCT doc_id, h FROM sh),
       |cnt AS (SELECT doc_id, count(*) AS c FROM ds GROUP BY doc_id),
       |inter AS (SELECT p.dd, p.bd, count(*) AS i
       |  FROM dpr p JOIN ds x ON x.doc_id = p.dd
       |  JOIN ds y ON y.doc_id = p.bd AND y.h = x.h
       |  GROUP BY p.dd, p.bd),
       |neard AS (SELECT DISTINCT i.dd FROM inter i
       |  JOIN cnt ca ON ca.doc_id = i.dd JOIN cnt cb ON cb.doc_id = i.bd
       |  WHERE 5 * i.i >= 4 * (ca.c + cb.c - i.i)),
       |exd AS (SELECT DISTINCT d.doc_id FROM documents d
       |  JOIN documents b ON b.text = d.text AND b.doc_id % 3 <> 0
       |  WHERE d.doc_id % 3 = 0)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id % 3 = 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM exd)
       |  AND d.doc_id NOT IN (SELECT dd FROM neard)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val all = docs(spark, dir)
    val delta = all.filter(col("doc_id") % 3 === 0)
    val base = all.filter(col("doc_id") % 3 =!= 0)
    val exactSurv = delta
      .join(base.select(md5(col("text")).as("bh")).distinct(),
        md5(col("text")) === col("bh"), "left_anti")
    val bk = bandKeys(spark, dir)
    val cand = bk.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("dd"), col("band"), col("key"))
      .join(bk.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("bd"), col("band"), col("key")),
        Seq("band", "key"))
      .select("dd", "bd").distinct()
    val sets = hashed(spark, dir)
      .select(col("doc_id"), array_distinct(col("hs")).as("hset"))
    val near = cand
      .join(sets.select(col("doc_id").as("dd"), col("hset").as("ha")), Seq("dd"))
      .join(sets.select(col("doc_id").as("bd"), col("hset").as("hb")), Seq("bd"))
      .filter(lit(5) * size(array_intersect(col("ha"), col("hb"))) >=
        lit(4) * size(array_union(col("ha"), col("hb"))))
      .select(col("dd")).distinct()
    exactSurv.select(col("doc_id"))
      .join(near, col("doc_id") === col("dd"), "left_anti")
      .orderBy("doc_id")
  }

  /** Native 32-bit SimHash ([[graft.functions.SimHash32]]): one pass
    * over the hash array instead of 32 interpreted `filter` lambdas
    * per row; value-identical to the `aggregate(sequence(0,31), …)`
    * composition the oracle mirrors.
    */
  private def simhashCol = TextHash.simhash32(col("hs"))

  private val duckSimhash =
    s"""bits AS (SELECT doc_id, j,
       |    count(*) FILTER (WHERE (h >> j) & 1 = 1) AS cnt1, count(*) AS tot
       |  FROM sh, range(0, 32) t(j) GROUP BY doc_id, j),
       |sim AS (SELECT doc_id,
       |    sum(CASE WHEN 2 * cnt1 > tot THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** 32-bit SimHash over shingle hashes (frequency-weighted): bit j
    * is set when strictly more than half the shingles have bit j set.
    * Computed per-row with nested higher-order functions — zero
    * shuffle.
    */
  val q44Simhash: QueryDef = QueryDef.sql(
    "q44_simhash",
    s"""WITH ${duckShingleCte()}, $duckSimhash
       |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    hashed(spark, dir)
      .select(col("doc_id"), simhashCol.as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: bucket by the top 12 simhash bits, then
    * keep in-bucket pairs within Hamming distance 8 — the banding
    * trick that keeps SimHash search an equi-join instead of
    * all-pairs.
    */
  val q63SimhashNearDup: QueryDef = QueryDef.sql(
    "q63_simhash_neardup",
    s"""WITH ${duckShingleCte()}, $duckSimhash,
       |b AS (SELECT doc_id, simhash, simhash >> 20 AS bkt FROM sim)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.simhash, y.simhash)) AS hamming
       |FROM b x JOIN b y ON x.bkt = y.bkt AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val b = hashed(spark, dir)
      .select(col("doc_id"), simhashCol.as("simhash"))
      .withColumn("bkt", expr("simhash >> 20"))
      .scopedPersistEager() // self-joined
    BoundedPairs(b, Seq("bkt"), "doc_id", Seq("simhash"))
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        expr("bit_count(simhash_a ^ simhash_b)").as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** Row-preserving exact dedup: keep each text's lowest-doc_id row
    * with all its columns (window `row_number = 1` — the variant used
    * when survivors must carry their full payload through, vs q40's
    * group-by summary).
    */
  val q54WindowDedup: QueryDef = QueryDef.sql(
    "q54_window_dedup",
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM documents) WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("text").orderBy("doc_id")
    docs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Near-dup clustering: connected components over the LSH candidate
    * pairs — cluster id = the component's minimum doc_id (the
    * keep-one-per-cluster step that finishes a dedup pipeline).
    * Min-label propagation: each round joins labels across edges and
    * keeps the minimum; rounds needed = component diameter (tiny for
    * dup clusters; the same loop is the standard Spark shape for CC
    * at scale — alternating-star variants only matter for web-graph
    * diameters). Convergence is checked with a single-row aggregate.
    */
  val q70NeardupClusters: QueryDef = QueryDef.sql(
    "q70_neardup_clusters",
    s"""WITH RECURSIVE $duckSig, $duckPairs,
       |nodes AS (SELECT doc_a AS d FROM prs UNION SELECT doc_b FROM prs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |walk(d, r) AS (
       |  SELECT d, d FROM nodes
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.d)
       |SELECT d AS doc_id, min(r) AS cluster_id
       |FROM walk GROUP BY d ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    connectedComponents(lshPairs(spark, dir))
      .select(col("d").as("doc_id"), col("lab").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Min-label-propagation connected components over undirected pair
    * edges `(doc_a, doc_b)` → `(d, lab)` with `lab` = the component's
    * minimum node id; ids are `Long` (doc ids) or `String` (q209's
    * names). Rounds needed = component diameter (tiny for dup
    * clusters; the same loop is the standard Spark shape for CC at
    * scale — alternating-star variants only matter for web-graph
    * diameters).
    *
    * Each round carries every node's previous label as `own` through
    * the `min` aggregate, so one single-row aggregate per round both
    * materializes the round and tests convergence: no row has
    * `lab < own` (labels only ever decrease). Round 0's `own` is null,
    * so the test holds at round 0 only for an empty pair set. A path
    * longer than [[Fixpoint.MaxRounds]] is [[Fixpoint.NotConverged]].
    */
  private[graft] def connectedComponents(pairsIn: DataFrame): DataFrame = {
    // a pair set the caller cached stays cached: it is theirs to drop
    val ownPairs = pairsIn.storageLevel == StorageLevel.NONE
    val pairs = pairsIn.scopedPersistEager()
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionAll(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .scopedPersist()
    val noLabel = lit(null).cast(pairs.schema("doc_a").dataType)
    val init = pairs.select(col("doc_a").as("d"))
      .unionAll(pairs.select(col("doc_b").as("d")))
      .distinct()
      .select(col("d"), col("d").as("lab"), noLabel.as("own"))
    val run = Fixpoint.iterate(init) { labels =>
      labels.select(col("d"), col("lab"), col("lab").as("own"))
        .unionAll(edges.join(labels, edges("a") === labels("d"))
          .select(col("b").as("d"), col("lab"), noLabel.as("own")))
        .groupBy("d").agg(min("lab").as("lab"), min("own").as("own"))
    } { labels =>
      labels.agg(count(when(col("own").isNull || col("lab") < col("own"), 1)))
        .head().getLong(0) == 0
    }
    // the labels are materialized by the convergence actions; the
    // intermediates can drop out of the cache now
    if (ownPairs) pairs.unpersist()
    edges.unpersist()
    run.fixpoint("connected components").select("d", "lab")
  }

  /** Cluster-canonical selection: the step after q70 that a real
    * dedup pipeline ends with — inside every near-dup cluster keep
    * the highest-quality member (ties → lowest doc_id), not merely
    * the first. Output: one row per cluster with the kept doc, the
    * member count, and the winning quality. The argmax is a
    * WindowGroupLimit-eligible row_number over the (small) clustered
    * subset; quality values are the bit-identical per-row q51 metric
    * on both engines, so the DESC ordering cannot diverge.
    */
  val q80ClusterCanonical: QueryDef = QueryDef.sql(
    "q80_cluster_canonical",
    s"""WITH RECURSIVE $duckSig, $duckPairs,
       |nodes AS (SELECT doc_a AS d FROM prs UNION SELECT doc_b FROM prs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |walk(d, r) AS (
       |  SELECT d, d FROM nodes
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.d),
       |lbl AS (SELECT d AS doc_id, min(r) AS cluster_id FROM walk GROUP BY d),
       |${TextOps.duckQualityCtes},
       |j AS (SELECT l.cluster_id, l.doc_id, q.quality,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY q.quality DESC, l.doc_id) AS rn
       |  FROM lbl l JOIN qq q ON q.doc_id = l.doc_id)
       |SELECT cluster_id, doc_id AS keep_id, n_members, quality AS best_quality
       |FROM j WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (spark, dir) =>
    val labels = connectedComponents(lshPairs(spark, dir))
      .select(col("d").as("doc_id"), col("lab").as("cluster_id"))
    val qual = TextOps.withQuality(docs(spark, dir)).select(col("doc_id"), col("quality"))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val argmax = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    labels.join(qual, "doc_id")
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("rn", row_number().over(argmax))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members"), col("quality").as("best_quality"))
      .orderBy("cluster_id")
  }

  /** q222: near-dup cluster SIZE census — the distribution view of
    * q70's clusters (how much of the corpus sits in pairs vs large
    * copy-farms — the number that decides whether dedup keeps or
    * collapses most of the data). Per observed size: cluster count
    * and the ppm of clustered docs that size class holds; windows
    * run over the tiny size histogram.
    */
  val q222ClusterSizes: QueryDef = QueryDef.sql(
    "q222_cluster_sizes",
    s"""WITH RECURSIVE $duckSig, $duckPairs,
       |nodes AS (SELECT doc_a AS d FROM prs UNION SELECT doc_b FROM prs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |walk(d, r) AS (
       |  SELECT d, d FROM nodes
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.d),
       |cl AS (SELECT d, min(r) AS lab FROM walk GROUP BY d),
       |sz AS (SELECT lab, count(*) AS size FROM cl GROUP BY lab)
       |SELECT size, count(*) AS n_clusters,
       |  CAST(1000000 * size * count(*) //
       |    CAST(sum(size * count(*)) OVER () AS BIGINT) AS BIGINT) AS docs_ppm
       |FROM sz GROUP BY size ORDER BY size""".stripMargin) { (spark, dir) =>
    val sz = connectedComponents(lshPairs(spark, dir))
      .groupBy("lab").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
    sz.withColumn("docs_ppm",
        expr("1000000L * size * n_clusters div sum(size * n_clusters) over ()"))
      .orderBy("size")
  }

  /** q230: MinHash estimator calibration — per exact-Jaccard decile
    * of the LSH candidate pairs: pair count, mean EXACT Jaccard
    * (q43's verify), mean SIGNATURE agreement (matching perms / 16 —
    * the quantity MinHash uses as its Jaccard estimate), and the
    * bias between them. E[agreement] = J, so a decile whose bias_ppm
    * is far from 0 means the 16-perm signature is too short for the
    * dedup threshold in use — the audit that decides NumPerms before
    * a corpus-scale run.
    *
    * Scale shape: only LSH SURVIVORS pay (never the corpus cross
    * product); per pair the work is two array ops over cached
    * shingle sets plus a 16-element signature comparison; the decile
    * rollup is a map-side-combined aggregate to ≤11 rows. Everything
    * is integer-exact (deciles via `10·i div u`, means as ppm with a
    * fixed truncation order) so both engines hash identically.
    */
  val q230MinhashCalibration: QueryDef = QueryDef.sql(
    "q230_minhash_calibration",
    s"""WITH $duckSig, $duckPairs,
       |ds AS (SELECT DISTINCT doc_id, h FROM sh),
       |cnt AS (SELECT doc_id, count(*) AS c FROM ds GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS i
       |  FROM prs p JOIN ds x ON x.doc_id = p.doc_a
       |  JOIN ds y ON y.doc_id = p.doc_b AND y.h = x.h
       |  GROUP BY p.doc_a, p.doc_b),
       |ag AS (SELECT p.doc_a, p.doc_b, count(*) FILTER (WHERE sx.mh = sy.mh) AS agree
       |  FROM prs p JOIN sig sx ON sx.doc_id = p.doc_a
       |  JOIN sig sy ON sy.doc_id = p.doc_b AND sy.p = sx.p
       |  GROUP BY p.doc_a, p.doc_b),
       |pairs AS (SELECT p.doc_a, p.doc_b,
       |    coalesce(i.i, 0) AS i, ca.c + cb.c - coalesce(i.i, 0) AS u, ag.agree
       |  FROM prs p
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  JOIN cnt ca ON ca.doc_id = p.doc_a
       |  JOIN cnt cb ON cb.doc_id = p.doc_b
       |  JOIN ag ON ag.doc_a = p.doc_a AND ag.doc_b = p.doc_b)
       |SELECT 10 * i // u AS decile, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(1000000 * i // u) // count(*) AS BIGINT) AS mean_jaccard_ppm,
       |  CAST(1000000 * sum(agree) // ($NumPerms * count(*)) AS BIGINT) AS mean_sig_agree_ppm,
       |  CAST(1000000 * sum(agree) // ($NumPerms * count(*))
       |    - sum(1000000 * i // u) // count(*) AS BIGINT) AS bias_ppm
       |FROM pairs GROUP BY decile ORDER BY decile""".stripMargin) { (spark, dir) =>
    val sets = hashed(spark, dir)
      .select(col("doc_id"), array_distinct(col("hs")).as("hset"),
        minhashSignature(col("hs")).as("sig"))
    val pairs = lshPairs(spark, dir)
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("ha"), col("sig").as("sa")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("hb"), col("sig").as("sb")),
        Seq("doc_b"))
      .select(
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("i"),
        size(array_union(col("ha"), col("hb"))).cast("long").as("u"),
        expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))")
          .cast("long").as("agree"))
    pairs
      .groupBy(expr("10L * i div u").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("1000000L * i div u")).as("sj"),
        sum("agree").as("sa"))
      .select(col("decile"), col("n_pairs"),
        expr("sj div n_pairs").as("mean_jaccard_ppm"),
        expr(s"1000000L * sa div ($NumPerms * n_pairs)").as("mean_sig_agree_ppm"),
        expr(s"1000000L * sa div ($NumPerms * n_pairs) - sj div n_pairs").as("bias_ppm"))
      .orderBy("decile")
  }

  /** q231: dedup quality-shift audit — per source, the mean quality
    * of docs the near-dup policy KEEPS (cluster canonicals +
    * unclustered docs) vs the docs it DROPS (non-canonical cluster
    * members), and the shift between them. Near-dup dedup is supposed
    * to keep the best copy (q80 picks canonicals by quality), so a
    * source whose dropped mean is ABOVE its kept mean signals the
    * clusters straddle quality strata — the "is dedup biasing my
    * mixture" check run before retraining on a deduped corpus.
    *
    * Scale shape: the cluster-label relation is bounded by LSH
    * SURVIVORS (never the corpus); the only corpus-sized work is the
    * quality projection and two doc_id equi-joins on the same key
    * axis, then a map-side-combined rollup to |sources| rows.
    * Integer-exact: ppm means via guarded `div`, null when a side is
    * empty (both engines propagate the null through the shift).
    */
  val q231DedupQualityShift: QueryDef = QueryDef.sql(
    "q231_dedup_quality_shift",
    s"""WITH RECURSIVE $duckSig, $duckPairs,
       |nodes AS (SELECT doc_a AS d FROM prs UNION SELECT doc_b FROM prs),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |walk(d, r) AS (
       |  SELECT d, d FROM nodes
       |  UNION
       |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.d),
       |lbl AS (SELECT d AS doc_id, min(r) AS cluster_id FROM walk GROUP BY d),
       |${TextOps.duckQualityCtes},
       |cn AS (SELECT l.doc_id, row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY q.quality DESC, l.doc_id) AS rn
       |  FROM lbl l JOIN qq q ON q.doc_id = l.doc_id),
       |st AS (SELECT d.source, q.quality_ppm,
       |    CASE WHEN cn.rn IS NOT NULL AND cn.rn > 1 THEN 1 ELSE 0 END AS dropped
       |  FROM documents d JOIN qq q ON q.doc_id = d.doc_id
       |  LEFT JOIN cn ON cn.doc_id = d.doc_id),
       |ag AS (SELECT source,
       |    CAST(count(*) FILTER (WHERE dropped = 0) AS BIGINT) AS n_kept,
       |    CAST(count(*) FILTER (WHERE dropped = 1) AS BIGINT) AS n_dropped,
       |    CAST(sum(quality_ppm) FILTER (WHERE dropped = 0) AS BIGINT) AS sk,
       |    CAST(sum(quality_ppm) FILTER (WHERE dropped = 1) AS BIGINT) AS sd
       |  FROM st GROUP BY source)
       |SELECT source, n_kept, n_dropped,
       |  CASE WHEN n_kept = 0 THEN NULL ELSE sk // n_kept END AS kept_q_ppm,
       |  CASE WHEN n_dropped = 0 THEN NULL ELSE sd // n_dropped END AS dropped_q_ppm,
       |  CASE WHEN n_kept = 0 OR n_dropped = 0 THEN NULL
       |       ELSE sk // n_kept - sd // n_dropped END AS shift_ppm
       |FROM ag ORDER BY source""".stripMargin) { (spark, dir) =>
    val labels = connectedComponents(lshPairs(spark, dir))
      .select(col("d").as("doc_id"), col("lab").as("cluster_id"))
    val qual = TextOps.withQuality(docs(spark, dir))
      .select(col("doc_id"), col("quality"), col("quality_ppm"))
    val argmax = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    val cn = labels.join(qual.select("doc_id", "quality"), "doc_id")
      .withColumn("rn", row_number().over(argmax))
      .select(col("doc_id"), col("rn"))
    docs(spark, dir).select("doc_id", "source")
      .join(qual.select("doc_id", "quality_ppm"), "doc_id")
      .join(cn, Seq("doc_id"), "left")
      .withColumn("dropped", when(col("rn").isNotNull && col("rn") > 1, 1).otherwise(0))
      .groupBy("source").agg(
        sum(when(col("dropped") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("dropped") === 1, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("dropped") === 0, col("quality_ppm"))).as("sk"),
        sum(when(col("dropped") === 1, col("quality_ppm"))).as("sd"))
      .select(col("source"), col("n_kept"), col("n_dropped"),
        expr("CASE WHEN n_kept = 0 THEN NULL ELSE sk div n_kept END").as("kept_q_ppm"),
        expr("CASE WHEN n_dropped = 0 THEN NULL ELSE sd div n_dropped END").as("dropped_q_ppm"),
        expr("""CASE WHEN n_kept = 0 OR n_dropped = 0 THEN NULL
               |     ELSE sk div n_kept - sd div n_dropped END""".stripMargin).as("shift_ppm"))
      .orderBy("source")
  }

  /** Gram length for the exact-substring audit (Lee et al. use 50
    * BPE tokens at web scale; 8 words fits the synthetic corpus while
    * keeping the operator shape identical). */
  val SubstrGram = 8

  /** q236: cross-document exact-substring duplication audit — the
    * measurement pass of ExactSubstr dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv 2107.06499): every document position opens a word
    * 8-gram; grams occurring in ≥2 DISTINCT documents mark their
    * 8-token spans duplicated, and the union of those spans (exact
    * gaps-and-islands coverage per doc) is the text an ExactSubstr
    * pass would cut. Top-50 docs by removable-fraction ppm.
    *
    * Scale shape: grams shuffle as fixed-width md5 digests, never
    * span text (the q40/q100 rule; at 100 TB the digest would ride
    * as 16-byte binary). Cross-doc detection is one hash aggregate
    * on the digest (partial count-distinct map-side); the survivor
    * join back is a digest equi-join; coverage is a per-doc RUNNING
    * max window (linear, high-cardinality partitions); the ranking
    * is TakeOrderedAndProject(50). No pairwise doc join anywhere —
    * this is exactly why ExactSubstr scales where suffix-array
    * pairwise scans don't.
    */
  val q236ExactSubstring: QueryDef = QueryDef.sql(
    "q236_exact_substring",
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SubstrGram),
       |g AS (SELECT doc_id, source, len(w) AS nw, i - 1 AS st,
       |    md5(array_to_string(w[i:i+${SubstrGram - 1}], ' ')) AS dig
       |  FROM t, unnest(generate_series(1, len(w) - ${SubstrGram - 1})) AS u(i)),
       |d AS (SELECT dig FROM g GROUP BY dig HAVING count(DISTINCT doc_id) >= 2),
       |c AS (SELECT doc_id, source, nw, st,
       |    max(st + $SubstrGram) OVER (PARTITION BY doc_id ORDER BY st
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
       |  FROM g JOIN d USING (dig)),
       |p AS (SELECT doc_id, source, nw, count(*) AS n_dup_grams,
       |    CAST(sum(greatest(0, st + $SubstrGram
       |      - greatest(st, coalesce(prevmax, -1)))) AS BIGINT) AS covered
       |  FROM c GROUP BY doc_id, source, nw)
       |SELECT doc_id, source, CAST(nw AS BIGINT) AS n_tokens, n_dup_grams,
       |  covered AS covered_tokens,
       |  CAST(covered * 1000000 // nw AS BIGINT) AS dup_ppm
       |FROM p ORDER BY dup_ppm DESC, doc_id LIMIT 50""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val L = SubstrGram
    val t = graft.sources.Tables.spread(docs(spark, dir), "doc_id")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= L)
    // consumed twice (cross-doc census + the survivor join's probe
    // side) — pinned so the tokenize/explode/md5 pass runs once per
    // query instead of twice. At corpus scale the same relation is
    // materialized to parquet instead (the materializeSignatures
    // pattern); the persist is the bench-scale stand-in.
    val grams = t.select(col("doc_id"), col("source"),
        size(col("w")).cast("long").as("nw"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (L - 1)),
          i => md5(concat_ws(" ", slice(col("w"), i, lit(L))).cast("binary"))))
          .as(Seq("st", "dig")))
      .select(col("doc_id"), col("source"), col("nw"),
        col("st").cast("long").as("st"), col("dig"))
      .scopedPersistEager()
    val dup = grams.groupBy("dig")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      .select("dig")
    val w = Window.partitionBy("doc_id").orderBy("st")
      .rowsBetween(Window.unboundedPreceding, -1)
    grams.join(dup, "dig")
      .withColumn("prevmax", max(col("st") + L).over(w))
      .groupBy("doc_id", "source", "nw")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(greatest(lit(0L), col("st") + L
          - greatest(col("st"), coalesce(col("prevmax"), lit(-1L)))))
          .as("covered_tokens"))
      .select(col("doc_id"), col("source"), col("nw").as("n_tokens"),
        col("n_dup_grams"), col("covered_tokens"),
        expr("covered_tokens * 1000000L div n_tokens").as("dup_ppm"))
      .orderBy(col("dup_ppm").desc, col("doc_id"))
      .limit(50)
  }

  val all: Seq[QueryDef] = Seq(
    q40ExactDedup, q41MinhashSignature, q42LshPairs, q43JaccardVerify,
    q44Simhash, q54WindowDedup, q63SimhashNearDup, q70NeardupClusters,
    q80ClusterCanonical, q128EditDistance, q129Containment, q142DeltaDedup,
    q222ClusterSizes, q230MinhashCalibration, q231DedupQualityShift,
    q236ExactSubstring)
}
