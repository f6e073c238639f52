package graft.operators

import graft.QueryDef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CacheScope.ScopedDataset

/** Iterative graph processing — the Pregel-shaped workload class
  * (label propagation already powers the near-dup clustering,
  * [[Dedup.connectedComponents]]); here: PageRank over a derived
  * entity graph.
  *
  * Scale shape per iteration: one shuffle join of the rank vector to
  * the edge list on the source key + one hash aggregate on the
  * destination key — the standard distributed PageRank step. A fixed
  * iteration count keeps the plan a finite chain; at 100 TB each
  * iteration's rank vector is checkpointed to break lineage, like
  * the CC loop's label relation ([[Fixpoint.iterate]]).
  *
  * Determinism: ranks are EXACT INTEGER parts-per-million.
  * Contribution = `rank div out_degree` (integer), damping =
  * `150000 + (85·Σ) div 100` (integer) — every iteration is
  * order-insensitive integer arithmetic, so a fixed iteration count
  * yields bit-identical ranks on any engine, any partitioning. The
  * float formulation would accumulate reduction-order ulps across
  * iterations and amplify them through the damping multiply.
  */
object Graphs {

  val Iterations = 5

  /** The incident-correlation pair relation every graph query derives
    * its edges from: users whose ≥3-event error bursts overlap
    * someone else's ≥3-event purchase bursts in absolute time
    * (q113's relation). BOTH burst-island sides come from ONE pass
    * over the events series — the two type flags ride the same
    * (user_id, t, event_id) window sort and the flagged rows persist
    * once, where the historical per-type [[SeriesOps.islands]] calls
    * scanned + exchanged + sorted the events twice (guide §2.4: two
    * operations keyed the same way share one exchange). Value-
    * identical: the lag/running-sum island ids and the ≥3 filters are
    * unchanged per type.
    */
  private def incidentPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sAbs = SeriesOps.Series(Seq("user_id"), "t", Seq("event_id"))
    val s = graft.sources.Tables.series(spark, dir)
    def fl(tpe: String) = (col("event_type") === tpe).cast("int")
    def islandId(f: org.apache.spark.sql.Column) =
      sum(when(f === 1 && lag(f, 1, 0).over(sAbs.ordered) === 0, 1).otherwise(0))
        .over(sAbs.running)
    val flagged = s
      .withColumn("__fe", fl("error")).withColumn("__fp", fl("purchase"))
      .withColumn("__ie", islandId(col("__fe")))
      .withColumn("__ip", islandId(col("__fp")))
      .filter(col("__fe") === 1 || col("__fp") === 1)
      .select("user_id", "t", "__fe", "__fp", "__ie", "__ip")
      .scopedPersistEager()
    def bursts(flag: String, island: String) = flagged.filter(col(flag) === 1)
      .groupBy(col("user_id"), col(island))
      .agg(min(col("t")).as("seg_start"), max(col("t")).as("seg_end"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_rows") >= 3)
      .select(col("user_id"), col("seg_start").as("start"),
        col("seg_end").as("end"))
    Intervals.overlapJoin(bursts("__fe", "__ie"), bursts("__fp", "__ip"),
        "start", "end", 86400.0, col("l_user_id") =!= col("r_user_id"))
      .select(col("l_user_id").as("a"), col("r_user_id").as("b"))
  }

  /** [[incidentPairs]] symmetrized to a distinct directed edge list. */
  private def incidentEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val pairs = incidentPairs(spark, dir)
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
  }

  /** [[incidentPairs]] canonicalized to distinct undirected u < v edges. */
  private def incidentUnd(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    incidentPairs(spark, dir)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Integer-ppm PageRank over a symmetric edge list `(src, dst)`.
    * Every node (appearing as src or dst) starts at 1e6 ppm; after
    * each step ranks are re-damped; dangling nodes cannot exist in a
    * symmetrized edge list.
    *
    * A FIXED iteration count means the rank lineage is a
    * straight-line DAG with no reuse — so iterations chain LAZILY
    * into one job (no per-iteration materialization: a persist+count
    * round per step tripled the wall time at bench scale and buys
    * nothing without reuse). Only the edge+degree relation, consumed
    * once per iteration, is persisted; the harness clears caches per
    * query, facade callers unpersist at their own scope. Past
    * [[Fixpoint.CheckpointEvery]] rounds the chain is cut by an eager
    * localCheckpoint, so deep runs keep a bounded plan.
    */
  def pageRankPpm(edges: DataFrame, iterations: Int = Iterations): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src").scopedPersistEager()
    var ranks = e.select(col("src").as("node")).distinct()
      .withColumn("rank_ppm", lit(1000000L))
    (1 to iterations).foreach { i =>
      ranks = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("rank_ppm div deg").as("c"))
        .groupBy("node")
        .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("rank_ppm"))
      // deep runs: cut the chain every k rounds (see CheckpointEvery)
      if (Fixpoint.cutsAt(i) && i < iterations) ranks = graft.CacheScope.checkpoint(ranks)
    }
    ranks
  }

  /** PageRank over the cross-user incident graph: nodes are users,
    * edges pair users whose q113 bursts (≥3 consecutive errors vs ≥3
    * consecutive purchases) overlapped in absolute time — "whose
    * incidents co-occur with whose". The oracle replays the identical
    * integer iterations as a fixed chain of CTEs.
    */
  val q122PageRank: QueryDef = {
    def islSql(tpe: String) =
      s"""SELECT user_id, min(t) AS s0, max(t) AS e0
         |  FROM f WHERE event_type = '$tpe'
         |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3""".stripMargin
    val iterCtes = (1 to Iterations).map { i =>
      s"""it$i AS (SELECT e.dst AS node,
         |    150000 + (85 * CAST(sum(r.rank_ppm // e.deg) AS BIGINT)) // 100 AS rank_ppm
         |  FROM ed e JOIN it${i - 1} r ON r.node = e.src GROUP BY e.dst)""".stripMargin
    }
    QueryDef.sql(
      "q122_pagerank",
      s"""WITH s AS (${graft.sources.Tables.seriesSql}),
         |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
         |ei AS (${islSql("error")}),
         |pi AS (${islSql("purchase")}),
         |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
         |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
         |    AND e.user_id <> p.user_id),
         |eg AS (SELECT a AS src, b AS dst FROM pr
         |  UNION SELECT b, a FROM pr),
         |dg AS (SELECT src, count(*) AS deg FROM eg GROUP BY src),
         |ed AS (SELECT eg.src, eg.dst, dg.deg FROM eg JOIN dg ON dg.src = eg.src),
         |it0 AS (SELECT DISTINCT src AS node, 1000000 AS rank_ppm FROM eg),
         |${iterCtes.mkString(",\n")}
         |SELECT node AS user_id, CAST(rank_ppm AS BIGINT) AS rank_ppm
         |FROM it$Iterations ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val edges = incidentEdges(spark, dir)
      pageRankPpm(edges)
        .select(col("node").as("user_id"), col("rank_ppm"))
        .orderBy("user_id")
    }
  }

  /** Per-node triangle counts over an undirected unique-pair edge
    * list `(u, v)` with u < v.
    *
    * Scale shape: DEGREE-ORDERED orientation. Each edge is directed
    * from its lower endpoint to its higher endpoint under the total
    * order (degree, node), wedges come from one self-join on the
    * middle vertex, and the closing edge is checked with a second
    * equi join. Orienting by degree bounds every vertex's out-degree
    * at O(√m), so the wedge join materializes O(m^1.5) rows instead
    * of Σdeg² — the difference between hours and forever on a
    * power-law 100 TB graph. The triangle SET is orientation-
    * independent (any total order counts each triangle exactly once),
    * which is why the oracle can use plain node-id orientation and
    * still match bit-for-bit.
    */
  def triangleCounts(undIn: DataFrame): DataFrame = {
    // the edge relation feeds the degree count AND both sides of the
    // wedge/closure joins — pin it (and the oriented form, read three
    // times) or the whole upstream derivation re-runs per reference
    val und = undIn.scopedPersistEager()
    val deg = degreesOf(und)
    val lowFirst = orientByDegree(und, deg, Nil)
      .scopedPersistEager()
    val tris = orientedTriangles(lowFirst)
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** (node, deg) over a canonical undirected edge list. */
  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Direct each edge from its lower endpoint under the (degree,
    * node) total order — the O(√m) out-degree bound — carrying
    * `extra` edge columns through unswapped. */
  private def orientByDegree(und: DataFrame, deg: DataFrame,
      extra: Seq[String]): DataFrame =
    und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e")
          +: extra.map(col): _*)
      .select(col("e.src").as("src") +: col("e.dst").as("dst") +: extra.map(col): _*)

  /** The wedge + closure join over an oriented (acyclic) edge
    * relation: one row per triangle `(a, b, c)` — each triangle
    * appears exactly once (its apex is the minimum vertex under the
    * orientation's total order). */
  private def orientedTriangles(lowFirst: DataFrame): DataFrame =
    lowFirst.select(col("src").as("a"), col("dst").as("b"))
      .join(lowFirst.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .join(lowFirst.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))

  /** Triangle counting on the q122 incident graph: how many of a
    * user's incident-correlation partners are ALSO correlated with
    * each other — the local clustering signal that separates hub
    * users (star centers, few triangles) from genuine co-incident
    * clusters (dense triangles). Integer counts ⇒ deterministic.
    */
  val q130Triangles: QueryDef = QueryDef.sql(
    "q130_triangles",
    s"""WITH s AS (${graft.sources.Tables.seriesSql}),
       |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
       |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
       |ei AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'error'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pi AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'purchase'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
       |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
       |    AND e.user_id <> p.user_id),
       |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pr),
       |tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1 JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |n AS (SELECT a AS user_id FROM tr UNION ALL
       |  SELECT b FROM tr UNION ALL SELECT c FROM tr)
       |SELECT user_id, count(*) AS n_triangles
       |FROM n GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    triangleCounts(incidentUnd(spark, dir)).orderBy("user_id")
  }

  /** q244: DOULION-sampled triangle census (Tsourakakis et al.,
    * KDD'09) — the documented 100 TB SCALE PATH for [[q130Triangles]],
    * whose exact count is the repo's one workload-inherent >2 scaling
    * exponent (BENCH_SF1: edge densification makes the triangle join
    * itself superlinear). DOULION keeps each UNDIRECTED edge with
    * probability p BEFORE the wedge join, shrinking the quadratic
    * stage by p² and the closure probe by p, and rescales the sampled
    * count by 1/p³ (each triangle survives iff all 3 edges do). Here
    * p = 1/2 via the deterministic md5 edge hash — the same
    * derandomization every sampler in this repo uses (q75, q88), so
    * both engines keep the identical edge subset and the "estimate"
    * is reproducible, auditable, and oracle-checkable; 1/p³ = 8 keeps
    * the estimator integer-exact.
    *
    * Output is the one-row census a pipeline acts on: edge totals
    * before/after sampling, the sampled triangle count, and the
    * unbiased estimate. Scale shape: the census is one hash aggregate
    * over the (persisted) edge relation; the triangle join runs on
    * the HALVED edge set through [[triangleCounts]]'s degree-oriented
    * form; the two 1-row results meet in a broadcast cross join.
    */
  val q244SampledTriangles: QueryDef = QueryDef.sql(
    "q244_sampled_triangles",
    s"""WITH s AS (${graft.sources.Tables.seriesSql}),
       |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
       |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
       |ei AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'error'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pi AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'purchase'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
       |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
       |    AND e.user_id <> p.user_id),
       |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pr),
       |k AS (SELECT u, v,
       |  ${graft.functions.TextHash.duckMd5Bucket("(u::VARCHAR || ':' || v::VARCHAR)", 2)} = 0 AS keep
       |  FROM und),
       |kept AS (SELECT u, v FROM k WHERE keep),
       |tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM kept e1 JOIN kept e2 ON e2.u = e1.v
       |  JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v),
       |ec AS (SELECT count(*) AS n_edges, count(*) FILTER (WHERE keep) AS n_kept FROM k),
       |tc AS (SELECT count(*) AS tri_sampled FROM tr)
       |SELECT n_edges, n_kept, tri_sampled, tri_sampled * 8 AS tri_estimate
       |FROM ec, tc""".stripMargin) { (spark, dir) =>
    doulionCensus(incidentUnd(spark, dir))
  }

  /** The DOULION census behind [[q244SampledTriangles]], reusable over
    * any canonical (u < v) undirected edge list: keep each edge iff
    * md5("u:v") ≡ 0 (mod pInv) — sampling rate p = 1/pInv — count
    * triangles on the kept subgraph, return ONE row `(n_edges,
    * n_kept, tri_sampled, tri_estimate = tri_sampled·pInv³)`.
    *
    * `pInv` is the scale knob: the declared q244 pins 2 (so the
    * oracle hash stays fixed), but a 100 TB graph samples far
    * sparser — wedge work shrinks by p², and Tsourakakis' variance
    * bound holds as long as p³·T ≫ 1. The estimator stays
    * integer-exact at every pInv.
    */
  private[graft] def doulionCensus(undIn: DataFrame, pInv: Int = 2): DataFrame = {
    // pInv = 1 is the exact degenerate (keep-all, ×1 estimator) so
    // [[doulionAuto]] can fall back to exact counting when the graph
    // is too triangle-sparse for ANY sampling to meet the target.
    require(pInv >= 1, s"pInv must be >= 1, got $pInv")
    // read twice (census + triangle join input) — pin within the scope
    val und = undIn
      .withColumn("keep",
        graft.functions.TextHash.md5Bucket(
          concat_ws(":", col("u"), col("v")), pInv) === 0)
      .scopedPersistEager()
    val census = und.agg(count(lit(1)).as("n_edges"),
      count(when(col("keep"), 1)).as("n_kept"))
    // ONE orientation pass over the FULL edge list (keep flag carried
    // through), wedge-joined on the kept subset: the kept-subgraph
    // triangle set is orientation-independent (any total order counts
    // each triangle exactly once), and full-graph degree order keeps
    // the O(√m) out-degree bound on the kept side too (kept out-edges
    // ⊆ full out-edges) — where the historical form re-derived
    // degrees and re-persisted the kept subgraph inside a nested
    // triangleCounts call (3 extra materialization jobs per census).
    val deg = degreesOf(und).scopedPersistEager()
    val kept = orientByDegree(und, deg, Seq("keep"))
      .filter(col("keep")).select("src", "dst")
      .scopedPersistEager()
    val tri = orientedTriangles(kept)
      .agg(count(lit(1)).as("tri_sampled"))
    census.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_kept"), col("tri_sampled"),
        (col("tri_sampled") * pInv.toLong * pInv * pInv).as("tri_estimate"))
  }

  /** [[doulionCensus]] with the sampling knob picked FROM Tsourakakis'
    * concentration bound instead of guessed by the caller: the
    * estimator's relative std is √((pInv³ − 1)/T), so the sparsest
    * admissible sampling for a target relative error ε and a triangle
    * estimate T̃ is `pInv = ⌊(ε²·T̃ + 1)^(1/3)⌋` (equivalently the
    * paper's p³·T ≫ 1 regime with the constant made explicit: at this
    * pInv, p³·T̃ ≥ 1/ε²).
    *
    * T̃ comes from a CHEAP pre-census — one degree aggregate gives the
    * wedge count W = Σᵥ C(dᵥ, 2), and T = κ·W/3 where κ is the global
    * closure ratio (transitivity). κ is unknowable without counting
    * the triangles themselves, so it enters as a PRIOR, default 0.05:
    * deliberately LOW, because underestimating T picks a smaller pInv
    * (denser sampling) and the error bound then holds a fortiori for
    * any true κ ≥ the prior. A caller who has measured κ on an earlier
    * snapshot of the same graph (estimate ÷ (W/3)) passes it and gets
    * sparser, cheaper sampling. pInv floors at 1 = exact keep-all: a
    * graph too triangle-sparse for ANY sampling to meet ε is counted
    * exactly rather than noisily.
    *
    * Scale shape: the pre-census is one shuffle (degree aggregate) +
    * one 1-row rollup collected to the driver (bounded fold — the
    * knob must be a plan CONSTANT so the md5 predicate stays a pushed
    * scan filter); then the census runs exactly as [[doulionCensus]]
    * with the chosen pInv carried in a `p_inv` column.
    */
  def doulionAuto(und: DataFrame, targetRelErr: Double,
      closureRatio: Double = 0.05): DataFrame = {
    require(targetRelErr > 0 && targetRelErr <= 1,
      s"targetRelErr must be in (0, 1], got $targetRelErr")
    require(closureRatio > 0 && closureRatio <= 1,
      s"closureRatio must be in (0, 1], got $closureRatio")
    val pre = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("w"))
      .head()
    val wedges = pre.getLong(0)
    val tTilde = math.max(1.0, closureRatio * wedges / 3.0)
    val pInv = math.max(1,
      math.floor(math.cbrt(targetRelErr * targetRelErr * tTilde + 1.0)).toInt)
    doulionCensus(und, pInv).withColumn("p_inv", lit(pInv.toLong))
  }

  /** Degree-split HYBRID triangle census: exact below the √m degree
    * threshold, DOULION-sampled above — the production shape that
    * caps [[q130Triangles]]' workload-inherent superlinearity without
    * giving up exactness on the low-degree mass (which on a power-law
    * graph is almost all of it).
    *
    * The decomposition is a partition, not a heuristic: under the
    * (degree, node) total order every triangle has a unique MINIMUM
    * vertex (its wedge apex in the degree-oriented enumeration). If
    * that apex has degree ≤ τ the triangle is counted EXACTLY — wedges
    * are enumerated only from low-apex out-edges, so the quadratic
    * stage is bounded by Σ_{deg≤τ} outdeg² ≤ τ·2m ≤ 2m^1.5 regardless
    * of densification. If the apex is high, ALL THREE vertices are
    * high (the apex is the min), i.e. the triangle lives entirely in
    * the high-vertex-induced subgraph — at most 2m/τ = 2√m vertices —
    * and that subgraph is DOULION-sampled (md5-derandomized, as
    * [[doulionCensus]]) with the ×pInv³ unbiased estimator. Total =
    * exact low count + high estimate; when no vertex exceeds τ the
    * high side is empty and the "estimate" IS the exact q130 total.
    *
    * Scale shape: one degree aggregate; τ enters as a 1-row broadcast
    * (the plan constant that keeps the md5 predicate a scan filter);
    * the exact wedge join reads only low-apex legs; the sampled side
    * runs [[triangleCounts]]' degree-oriented join on the p-thinned
    * high subgraph; all four 1-row partial censuses meet in broadcast
    * cross joins.
    */
  private[graft] def hybridTriangleCensus(undIn: DataFrame, pInv: Int = 2): DataFrame = {
    val und = undIn.scopedPersistEager()
    // lazy pin: the 1-row stats relation is first materialized inside
    // deg's broadcast build (single consumer at that point), then the
    // final select reads the cache — an eager count here was one more
    // job for nothing
    val stats = und.agg(count(lit(1)).as("n_edges"))
      .withColumn("tau", floor(sqrt(col("n_edges").cast("double"))).cast("long"))
      .scopedPersist()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .crossJoin(broadcast(stats.select("tau")))
      .withColumn("high", col("d") > col("tau"))
      .scopedPersistEager()
    val du = deg.select(col("node").as("u"), col("d").as("du"), col("high").as("hu"))
    val dv = deg.select(col("node").as("v"), col("d").as("dv"), col("high").as("hv"))
    // keep-hash computed on the canonical (u, v) BEFORE orientation
    // (matches the oracle's md5 over 'u:v'); hboth/keep ride through
    // the orientation so the sampled side reuses THIS relation — the
    // historical form handed the high subgraph to a nested
    // doulionCensus, which re-derived degrees and re-persisted the
    // kept subgraph (4 extra materialization jobs per query). The
    // kept-high triangle set is orientation-independent, so wedge-
    // joining the hboth∧keep subset of the SAME oriented relation is
    // value-identical.
    val e = und.join(du, "u").join(dv, "v")
      .withColumn("keep",
        graft.functions.TextHash.md5Bucket(
          concat_ws(":", col("u"), col("v")), pInv) === 0)
      .scopedPersistEager()
    val oriented = e.select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("hu").as("hsrc")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"), col("hv").as("hsrc"))).as("o"),
        (col("hu") && col("hv")).as("hboth"), col("keep"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.hsrc").as("hsrc"),
        col("hboth"), col("keep"))
      .scopedPersistEager()
    // exact part: wedges whose APEX (first-leg source) is low; second
    // leg and closure probe run against the full oriented relation
    val lowLeg = oriented.filter(!col("hsrc"))
      .select(col("src").as("a"), col("dst").as("b"))
    val wedges = lowLeg
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
    val triLow = wedges
      .join(oriented.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("tri_low_exact"))
    // sampled part: DOULION on the high-induced subgraph — the
    // oriented relation filtered to kept high-high edges
    val hn = deg.filter(col("high")).agg(count(lit(1)).as("n_high"))
    val hec = e.agg(count(when(col("hu") && col("hv"), 1)).as("n_high_edges"))
    val keptHigh = oriented.filter(col("hboth") && col("keep"))
      .select("src", "dst")
    val triHigh = orientedTriangles(keptHigh)
      .agg(count(lit(1)).as("tri_high_sampled"))
      .select(col("tri_high_sampled"),
        (col("tri_high_sampled") * pInv.toLong * pInv * pInv).as("tri_high_estimate"))
    stats.crossJoin(broadcast(hn)).crossJoin(broadcast(triLow))
      .crossJoin(broadcast(hec)).crossJoin(broadcast(triHigh))
      .select(col("n_edges"), col("tau"), col("n_high"), col("n_high_edges"),
        col("tri_low_exact"), col("tri_high_sampled"), col("tri_high_estimate"),
        (col("tri_low_exact") + col("tri_high_estimate")).as("tri_total_estimate"))
  }

  /** q247: the hybrid census over the q130 incident graph — the
    * measured middle point between q130 (exact, superlinear) and q244
    * (all-sampled): same one-row census contract, exact wherever the
    * degree profile permits, sampled only where it doesn't.
    */
  val q247HybridTriangles: QueryDef = QueryDef.sql(
    "q247_hybrid_triangles",
    s"""WITH s AS (${graft.sources.Tables.seriesSql}),
       |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
       |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
       |ei AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'error'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pi AS (SELECT user_id, min(t) AS s0, max(t) AS e0
       |  FROM f WHERE event_type = 'purchase'
       |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3),
       |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
       |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
       |    AND e.user_id <> p.user_id),
       |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pr),
       |st AS (SELECT count(*) AS m,
       |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS tau FROM und),
       |deg AS (SELECT node, count(*) AS d FROM (
       |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
       |dg AS (SELECT g.node, g.d, g.d > st.tau AS high FROM deg g, st),
       |ore AS (SELECT
       |    CASE WHEN a.d < b.d OR (a.d = b.d AND e.u < e.v) THEN e.u ELSE e.v END AS src,
       |    CASE WHEN a.d < b.d OR (a.d = b.d AND e.u < e.v) THEN e.v ELSE e.u END AS dst,
       |    CASE WHEN a.d < b.d OR (a.d = b.d AND e.u < e.v) THEN a.high ELSE b.high END AS hsrc
       |  FROM und e JOIN dg a ON a.node = e.u JOIN dg b ON b.node = e.v),
       |tlow AS (SELECT count(*) AS tri_low FROM
       |  (SELECT src AS a, dst AS b FROM ore WHERE NOT hsrc) e1
       |  JOIN (SELECT src AS b, dst AS c FROM ore) e2 ON e2.b = e1.b
       |  JOIN (SELECT src AS a, dst AS c FROM ore) e3 ON e3.a = e1.a AND e3.c = e2.c),
       |he AS (SELECT e.u, e.v FROM und e JOIN dg a ON a.node = e.u
       |  JOIN dg b ON b.node = e.v WHERE a.high AND b.high),
       |hk AS (SELECT u, v,
       |  ${graft.functions.TextHash.duckMd5Bucket("(u::VARCHAR || ':' || v::VARCHAR)", 2)} = 0 AS keep
       |  FROM he),
       |kept AS (SELECT u, v FROM hk WHERE keep),
       |htr AS (SELECT count(*) AS tri_high FROM kept e1
       |  JOIN kept e2 ON e2.u = e1.v
       |  JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v),
       |hn AS (SELECT count(*) FILTER (WHERE high) AS n_high FROM dg),
       |hec AS (SELECT count(*) AS n_high_edges FROM he)
       |SELECT st.m AS n_edges, st.tau, hn.n_high, hec.n_high_edges,
       |  tlow.tri_low AS tri_low_exact, htr.tri_high AS tri_high_sampled,
       |  htr.tri_high * 8 AS tri_high_estimate,
       |  tlow.tri_low + htr.tri_high * 8 AS tri_total_estimate
       |FROM st, hn, hec, tlow, htr""".stripMargin) { (spark, dir) =>
    hybridTriangleCensus(incidentUnd(spark, dir))
  }

  /** Single-source BFS hop distances over a symmetric edge list, a
    * FIXED number of relaxation rounds: each round is one shuffle
    * join of the current distance relation to the edges plus one
    * min-aggregate on the destination — the Pregel frontier step as
    * plain DataFrame ops (same per-layer pinning as [[pageRankPpm]],
    * with lineage cut every [[Fixpoint.CheckpointEvery]] rounds for deep
    * runs). Integer distances and min-aggregates are
    * order-insensitive ⇒ bit-deterministic.
    */
  def bfsHops(edges: DataFrame, source: DataFrame, rounds: Int): DataFrame = {
    val e = edges.scopedPersist()
    val nodes = e.select(col("src").as("node")).distinct()
    // LAYERED frontier form, not per-round relaxation: round k derives
    // only the k-step walk minima (one edge join + one min-aggregate
    // on the previous layer), layers accumulate by union, and ONE
    // final min-aggregate merges them — the min over <=k-step walks IS
    // the BFS distance. A per-round merge join (the relaxation form)
    // reads the accumulated relation twice per round and paid 3+
    // jobs/round in broadcast builds (measured 12 s for 6 rounds at
    // bench scale vs ~3 s layered). Each tiny layer is pinned so the
    // next round's join reads a cached leaf, not a growing lineage.
    var frontier = source.select(col("s").as("node"), lit(0L).as("d")).scopedPersist()
    frontier.count()
    var layers = Seq(frontier)
    (1 to rounds).foreach { i =>
      val prev = frontier
      val next = e.join(prev, e("src") === prev("node"))
        .select(e("dst").as("node"), (col("d") + 1).as("d"))
        .groupBy("node").agg(min("d").as("d"))
      // every k-th layer truncates lineage instead of just pinning it
      // (CheckpointEvery). Only every SECOND layer pays its own
      // materializing count: layer k is lazy-pinned and layer k+1's
      // count fills both caches in one job (k has exactly one
      // consumer at that moment — the k+1 derivation; the final
      // union reads the already-filled cache), halving the
      // driver-bound per-round action count. The last layer is
      // always counted so nothing reaches the union job cold.
      frontier =
        if (Fixpoint.cutsAt(i)) graft.CacheScope.checkpoint(next)
        else {
          val p = next.scopedPersist()
          if (i % 2 == 0 || i == rounds) p.count()
          p
        }
      layers :+= frontier
    }
    val dist = layers.reduce(_ union _)
      .groupBy("node").agg(min("d").as("dist"))
    nodes.join(dist, Seq("node"), "left")
  }

  /** BFS hop distance from the lowest-id user in the q122 incident
    * graph after 6 relaxation rounds (nodes still unreached stay
    * null — a fixed-round frontier is itself deterministic, and the
    * oracle replays the identical 6 steps as chained CTEs).
    */
  val q139BfsHops: QueryDef = {
    val rounds = 6
    val stepCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT d.node,
         |    CASE WHEN d.dist IS NULL THEN c.cd
         |         WHEN c.cd IS NULL THEN d.dist
         |         ELSE least(d.dist, c.cd) END AS dist
         |  FROM d${i - 1} d LEFT JOIN (
         |    SELECT e.dst AS node, min(r.dist + 1) AS cd
         |    FROM eg e JOIN d${i - 1} r ON r.node = e.src AND r.dist IS NOT NULL
         |    GROUP BY e.dst) c ON c.node = d.node)""".stripMargin
    }
    def islSql(tpe: String) =
      s"""SELECT user_id, min(t) AS s0, max(t) AS e0
         |  FROM f WHERE event_type = '$tpe'
         |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3""".stripMargin
    QueryDef.sql(
      "q139_bfs_hops",
      s"""WITH s AS (${graft.sources.Tables.seriesSql}),
         |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
         |ei AS (${islSql("error")}),
         |pi AS (${islSql("purchase")}),
         |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
         |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
         |    AND e.user_id <> p.user_id),
         |eg AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
         |d0 AS MATERIALIZED (SELECT node, CASE WHEN node = (SELECT min(src) FROM eg)
         |    THEN CAST(0 AS BIGINT) END AS dist
         |  FROM (SELECT DISTINCT src AS node FROM eg)),
         |${stepCtes.mkString(",\n")}
         |SELECT node AS user_id, CAST(dist AS BIGINT) AS hops
         |FROM d$rounds ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val edges = incidentEdges(spark, dir)
      val source = edges.agg(min("src").as("s"))
      bfsHops(edges, source, rounds)
        .select(col("node").as("user_id"), col("dist").as("hops"))
        .orderBy("user_id")
    }
  }

  /** Iterative k-core peeling over a symmetric edge list: each round
    * drops every node whose degree in the SURVIVING subgraph is < k,
    * until `rounds` rounds have run or the subgraph is a fixpoint.
    * The round structure is the point — a node can start above k and
    * fall below it when its neighbors are peeled (the cascade a
    * single degree filter misses).
    *
    * Scale shape per round: one hash aggregate on `src` (degree) +
    * two shuffle joins restricting the edge list — the standard
    * distributed peel. The edge relation is consumed twice per round
    * (degree + restrict), so the input and each round are
    * materialized ([[Fixpoint.iterate]]); the materializing `count()`
    * doubles as a FREE fixpoint check — peeling is monotone, so an
    * unchanged edge count means every later round is identical and
    * the loop exits with the exact fixed-`rounds` result the oracle
    * replays. Stopping at `rounds` is that result, not an error.
    *
    * Determinism: membership and degrees are set/count facts — no
    * floats anywhere.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var prevCount = -1L
    Fixpoint.iterate(edges, rounds) { e =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      e.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
    } { e =>
      val n = e.count()
      val same = n == prevCount
      prevCount = n
      same
    }.result
      .groupBy("src").agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }

  /** k-core (k = 3, 8 peel rounds) of the q122 incident graph — the
    * "dense collaboration nucleus" extraction: nodes that survive
    * cascading removal of weakly-connected users. The oracle replays
    * the identical 8 rounds as chained CTEs; the Spark side's early
    * fixpoint exit returns the same relation by monotonicity.
    */
  val q183Kcore: QueryDef = {
    val k = 3; val rounds = 8
    val peelCtes = (1 to rounds).flatMap { i =>
      Seq(
        s"""a$i AS (SELECT src FROM pe${i - 1} GROUP BY src HAVING count(*) >= $k)""",
        s"""pe$i AS MATERIALIZED (SELECT e.src, e.dst FROM pe${i - 1} e
           |  JOIN a$i x ON x.src = e.src JOIN a$i y ON y.src = e.dst)""".stripMargin)
    }
    def islSql(tpe: String) =
      s"""SELECT user_id, min(t) AS s0, max(t) AS e0
         |  FROM f WHERE event_type = '$tpe'
         |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3""".stripMargin
    QueryDef.sql(
      "q183_kcore",
      s"""WITH s AS (${graft.sources.Tables.seriesSql}),
         |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
         |ei AS (${islSql("error")}),
         |pi AS (${islSql("purchase")}),
         |pr AS (SELECT DISTINCT e.user_id AS a, p.user_id AS b
         |  FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
         |    AND e.user_id <> p.user_id),
         |pe0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
         |${peelCtes.mkString(",\n")}
         |SELECT src AS user_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM pe$rounds GROUP BY src ORDER BY user_id""".stripMargin) { (spark, dir) =>
      val edges = incidentEdges(spark, dir)
      kCore(edges, k, rounds)
        .select(col("node").as("user_id"), col("core_deg"))
        .orderBy("user_id")
    }
  }

  val all: Seq[QueryDef] = Seq(q122PageRank, q130Triangles, q139BfsHops, q183Kcore,
    q244SampledTriangles, q247HybridTriangles)
}
