package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graph facade must agree with the declared operator kernels it
  * delegates to, and hold the census identities on seeded geometry.
  */
class GraphsApiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // barbell: two 5-cliques {1..5} and {8..12} joined by the path
  // 5-6-7-8 — known triangle total 2·C(5,3) = 20, no vertex above the
  // √m degree threshold's high bar once the bridge dilutes degrees
  private val cliqueA = for (u <- 1L to 5L; v <- u + 1 to 5L) yield (u, v)
  private val cliqueB = for (u <- 8L to 12L; v <- u + 1 to 12L) yield (u, v)
  private val und = (cliqueA ++ cliqueB ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))).toSeq
  private def undDf = und.toDF("u", "v")
  private def symDf = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")

  private def rows(df: org.apache.spark.sql.DataFrame, sort: String*) =
    df.orderBy(sort.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSeq

  test("facade methods delegate to the declared operator kernels") {
    assert(rows(api.Graphs.pageRank(symDf), "node") ==
      rows(operators.Graphs.pageRankPpm(symDf), "node"))
    assert(rows(api.Graphs.triangleCounts(undDf), "user_id") ==
      rows(operators.Graphs.triangleCounts(undDf), "user_id"))
    assert(rows(api.Graphs.sampledTriangleCensus(undDf)) ==
      rows(operators.Graphs.doulionCensus(undDf)))
    assert(rows(api.Graphs.sampledTriangleCensusAuto(undDf, 0.5)) ==
      rows(operators.Graphs.doulionAuto(undDf, 0.5)))
    assert(rows(api.Graphs.hybridTriangleCensus(undDf)) ==
      rows(operators.Graphs.hybridTriangleCensus(undDf)))
    val src = symDf.agg(org.apache.spark.sql.functions.min("src").as("s"))
    assert(rows(api.Graphs.bfsHops(symDf, src, 6), "node") ==
      rows(operators.Graphs.bfsHops(symDf, src, 6), "node"))
    assert(rows(api.Graphs.kCore(symDf, 3, 4), "node") ==
      rows(operators.Graphs.kCore(symDf, 3, 4), "node"))
  }

  test("census identities on the barbell") {
    // exact: each clique contributes C(5,3) = 10 triangles
    val tri = api.Graphs.triangleCounts(undDf)
      .agg(org.apache.spark.sql.functions.sum("n_triangles")).head().getLong(0)
    assert(tri == 60, "per-node counts triple-count each of the 20 triangles")
    // hybrid on a graph with no high-degree vertex IS the exact count
    val h = api.Graphs.hybridTriangleCensus(undDf).collect().head
    assert(h.getLong(0) == und.size.toLong, "n_edges")
    if (h.getLong(2) == 0L)
      assert(h.getLong(7) == 20L, "no-high-vertex hybrid must equal exact total")
    else // if the threshold marks bridge-adjacent nodes high, parts still sum
      assert(h.getLong(4) + h.getLong(6) == h.getLong(7))
    // BFS from node 1 reaches the far clique in <= 6 hops
    val src = symDf.agg(org.apache.spark.sql.functions.min("src").as("s"))
    val hops = api.Graphs.bfsHops(symDf, src, 6)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(hops(12L).contains(5L), "1 -> 5 -> 6 -> 7 -> 8 -> 12 is 5 hops")
    // k-core with k=3: the bridge path (degree <= 2) peels away,
    // both cliques survive as 4-regular cores
    val core = api.Graphs.kCore(symDf, 3, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet == (1L to 5L).toSet ++ (8L to 12L).toSet)
    assert(core.values.forall(_ == 4L))
  }

  test("a cache scope never releases a cache its caller owns") {
    // builders persist their inputs inside the scope; an input the
    // caller already cached is the caller's entry, not the scope's
    val edges = symDf.cache()
    val pairs = undDf.toDF("doc_a", "doc_b").cache()
    try {
      edges.count(); pairs.count()
      val src = edges.agg(org.apache.spark.sql.functions.min("src").as("s"))
      CacheScope.run(spark.sparkContext) {
        api.Graphs.bfsHops(edges, src, 3).collect()
        operators.Dedup.connectedComponents(pairs).collect()
      }
      assert(edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "bfsHops' scope released the caller's edge cache")
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "connectedComponents released the caller's pair cache")
    } finally { edges.unpersist(); pairs.unpersist() }
  }
}
