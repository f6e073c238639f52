package graft.api

import org.apache.spark.sql.DataFrame

/** Public graph-processing API — the iterative/census shapes the
  * declared queries (q122, q130, q139, q183, q244, q247) exercise,
  * exposed over caller-supplied edge lists.
  *
  * Input contracts: `und` is a canonical UNDIRECTED unique-pair edge
  * list `(u, v)` with `u < v`; `edges` is a SYMMETRIC directed list
  * `(src, dst)` (both directions present). All outputs are exact
  * integers (ppm ranks, counts, census rows) — deterministic under
  * any partitioning or reduction order.
  *
  * Scale shapes: PageRank/BFS/k-core iterate one shuffle join + one
  * hash aggregate per round with scope-managed persists and lineage
  * cuts every [[graft.operators.Fixpoint.CheckpointEvery]] rounds;
  * triangle work is degree-oriented (wedge stage bounded by m^1.5)
  * with DOULION sampling and the √m degree split as the documented
  * 100 TB paths. Callers own the action: wrap build + action in
  * `CacheScope.run` to release the iteration pins (the library
  * convention every facade shares).
  */
object Graphs {

  /** Integer-ppm PageRank over a symmetric edge list (q122's kernel).
    * Returns `(node, rank_ppm)`.
    */
  def pageRank(edges: DataFrame,
      iterations: Int = graft.operators.Graphs.Iterations): DataFrame =
    graft.operators.Graphs.pageRankPpm(edges, iterations)

  /** Exact per-node triangle counts via the degree-oriented wedge
    * join (q130's kernel) — wedge stage bounded by O(m^1.5). Returns
    * `(user_id, n_triangles)` keyed by the edge list's node ids.
    */
  def triangleCounts(und: DataFrame): DataFrame =
    graft.operators.Graphs.triangleCounts(und)

  /** DOULION-sampled one-row triangle census (q244's kernel): keep
    * each edge iff md5("u:v") ≡ 0 (mod pInv), count triangles on the
    * kept subgraph, rescale by pInv³. `pInv = 1` is the exact
    * degenerate. Returns `(n_edges, n_kept, tri_sampled,
    * tri_estimate)`.
    */
  def sampledTriangleCensus(und: DataFrame, pInv: Int = 2): DataFrame =
    graft.operators.Graphs.doulionCensus(und, pInv)

  /** [[sampledTriangleCensus]] with `pInv` picked from Tsourakakis'
    * variance bound for a target relative error (a cheap wedge
    * pre-census supplies the triangle estimate; the closure-ratio
    * prior errs toward denser sampling). Adds a `p_inv` column.
    */
  def sampledTriangleCensusAuto(und: DataFrame, targetRelErr: Double,
      closureRatio: Double = 0.05): DataFrame =
    graft.operators.Graphs.doulionAuto(und, targetRelErr, closureRatio)

  /** Hybrid exact/sampled triangle census (q247's kernel): exact
    * below the √m degree threshold, DOULION above — equals the exact
    * total when no vertex exceeds the threshold. Returns the 8-column
    * census row.
    */
  def hybridTriangleCensus(und: DataFrame, pInv: Int = 2): DataFrame =
    graft.operators.Graphs.hybridTriangleCensus(und, pInv)

  /** Single-source BFS hop distances over a symmetric edge list after
    * a fixed number of frontier rounds (q139's layered kernel).
    * `source` is a 1-row relation with column `s`. Returns
    * `(node, dist)` with unreached nodes null.
    */
  def bfsHops(edges: DataFrame, source: DataFrame, rounds: Int): DataFrame =
    graft.operators.Graphs.bfsHops(edges, source, rounds)

  /** Iterative k-core peel (q183's kernel) with the free fixpoint
    * exit. Returns `(node, core_deg)` for surviving nodes.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.operators.Graphs.kCore(edges, k, rounds)
}
