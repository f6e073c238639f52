package graft

import graft.api.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public corpus facade must agree with the oracle-checked
  * declared queries it mirrors (drift guard), and its dedup/sampling
  * stages must satisfy their invariants on a corpus with known
  * duplicates.
  */
class CorpusApiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = graft.sources.Tables.documents(spark, sfDir)

  test("contamination facade matches the declared q77 result") {
    val viaFacade = Corpus.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
      .orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.CorpusOps.q77Contamination.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("mixture report facade matches the declared q78 result") {
    val viaFacade = Corpus.mixtureReport(docs).orderBy("source")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.CorpusOps.q78MixtureReport.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("exactDedup keeps the lowest doc_id per text and all columns") {
    val corpus = Seq(
      (1L, "alpha beta gamma", "s1"), (2L, "alpha beta gamma", "s1"),
      (3L, "delta epsilon", "s2"), (4L, "delta epsilon", "s2"),
      (5L, "unique text here", "s3")).toDF("doc_id", "text", "source")
    val out = Corpus.exactDedup(corpus).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(out.head.schema.fieldNames.toSeq == Seq("doc_id", "text", "source"))
  }

  test("sampleBucket is stable and in range") {
    val corpus = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val b1 = Corpus.sampleBucket(corpus).select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Corpus.sampleBucket(corpus.orderBy(col("doc_id").desc))
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)                       // order-independent
    assert(b1.values.forall(b => b >= 0 && b < 100))
    val rate = b1.values.count(_ < 10).toDouble / b1.size
    assert(rate > 0.04 && rate < 0.2, s"10% bucket rate was $rate")
  }

  test("q81 two-phase prefix sum equals the naive global running sum") {
    import org.apache.spark.sql.expressions.Window
    val out = graft.operators.CorpusOps.q81TokenShards.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val budget = graft.operators.CorpusOps.TokenBudget
    val naive = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
      .withColumn("cum", sum("nw").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard", expr(s"(cum - nw) div $budget"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard")
      .collect().map(_.toSeq).toSeq
    assert(out == naive)
  }

  test("chunkDedup facade matches the declared q93 result") {
    val viaFacade = Corpus.chunkDedup(docs).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.PipelineOps.q93ChunkDedup.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("surprisalBits facade matches the declared q95 result") {
    val viaFacade = Corpus.surprisalBits(docs).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.PipelineOps.q95SurprisalBits.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("mixtureRates facade matches the declared q96 rate columns") {
    val viaFacade = Corpus.mixtureRates(docs).orderBy("source")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.PipelineOps.q96MixtureSample.fn(spark, sfDir)
      .select("source", "n_docs", "n_tokens", "rate_ppm")
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("repeatedSpans facade matches the declared q100 result") {
    val viaFacade = Corpus.repeatedSpans(docs).orderBy("h")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.PipelineOps.q100RepeatedSpans.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("nearDupPairs finds seeded near-duplicates and verifies jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base), (2L, base + " ok"),
      (3L, "completely different words about spark catalyst execution plans"),
      (4L, "another unrelated document mentioning parquet columnar storage"))
      .toDF("doc_id", "text")
    val pairs = Corpus.nearDupPairs(corpus, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("audit facades match their declared query results") {
    def pin(facade: org.apache.spark.sql.DataFrame, sortCols: Seq[String],
        query: graft.QueryDef): Unit = {
      val viaFacade = facade.orderBy(sortCols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      val viaQuery = query.fn(spark, sfDir).collect().map(_.toSeq).toSeq
      assert(viaFacade == viaQuery, query.name)
    }
    import graft.operators.AuditOps
    pin(Corpus.dedupSaturation(docs), Seq("bucket"), AuditOps.q151DedupSaturation)
    pin(Corpus.ngramNovelty(docs), Seq("doc_id"), AuditOps.q152NgramNovelty)
    pin(Corpus.sourceOverlap(docs), Seq("src_a", "src_b"), AuditOps.q153SourceOverlap)
    pin(Corpus.domainXent(docs), Seq("data_source", "model_source"), AuditOps.q163DomainXent)
    // q150 keeps only top-100; pin the facade's full relation restricted the same way
    val viaFacade = Corpus.collocationLift(docs)
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2")).limit(100)
      .collect().map(_.toSeq).toSeq
    val viaQuery = AuditOps.q150CollocationLift.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("boilerplate / chiSquare / calibrate facades reach their stages") {
    import spark.implicits._
    pinEq(Corpus.boilerplate(docs), Seq("doc_id"),
      graft.operators.PipelineOps.q184BoilerplatePpm)
    pinEq(Corpus.chiSquare(docs), Seq("source", "lang"),
      graft.operators.AuditOps.q189ChiSquare)
    val hist = Seq((0L, 100L, 30L), (1L, 100L, 10L)).toDF("b", "w", "h")
    val iso = Corpus.calibrate(hist, "b", "w", "h")
      .orderBy("b").collect().map(_.getLong(4))
    assert(iso.toSeq == Seq(300000L, 100000L)) // monotone input is a fixed point
  }

  test("tokenFertility / oovCurve / redactPii facades reach their stages") {
    pinEq(Corpus.tokenFertility(docs), Seq("lang"),
      graft.operators.TextOps.q228TokenFertility)
    val viaFacade = Corpus.oovCurve(docs)
      .orderBy(col("freq").desc).collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.CorpusOps.q229OovCurve.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
    val red = Corpus.redactPii(docs).select("n_email", "n_ipv4", "n_digits")
      .agg(org.apache.spark.sql.functions.sum("n_email"),
        org.apache.spark.sql.functions.sum("n_ipv4"),
        org.apache.spark.sql.functions.sum("n_digits")).head()
    // the synthetic corpus is word salad: the scrubber must find nothing
    assert((0 to 2).map(red.getLong) == Seq(0L, 0L, 0L))
  }

  test("shardManifest facade matches the declared q237 result") {
    pinEq(Corpus.shardManifest(docs), Seq("shard"),
      graft.operators.CorpusOps.q237ShardManifest)
  }

  private def pinEq(facade: org.apache.spark.sql.DataFrame, sortCols: Seq[String],
      query: graft.QueryDef): Unit = {
    val viaFacade = facade.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
    val viaQuery = query.fn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery, query.name)
  }

  test("manifestDelta: incremental update ≡ from-scratch rebuild at any append cut") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    // several cut points, including one inside a shard (the boundary
    // shard keeps filling) and the degenerate empty-base case
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    for (cut <- Seq(0L, 1L, maxId / 3, maxId * 9 / 10)) {
      val base = docs.filter(col("doc_id") < cut)
      val delta = docs.filter(col("doc_id") >= cut)
      val baseAsg = graft.operators.CorpusOps.shardAssign(base)
      val baseTot = baseAsg.groupBy("shard").agg(
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
      val baseBySrc = baseAsg.groupBy("shard", "source")
        .agg(count(lit(1)).as("src_docs"))
      val inc = Corpus.manifestDelta(baseTot, baseBySrc, delta)
        .orderBy("shard").collect().map(_.toSeq).toSeq
      val scratch = Corpus.shardManifest(docs)
        .orderBy("shard").collect().map(_.toSeq).toSeq
      assert(inc == scratch, s"incremental != rebuild at cut=$cut")
    }
  }

  test("manifestDelta composes across generations through a PERSISTED parquet base") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    // the production loop, run for real: gen-0 stored tables go to
    // parquet; gen 1 reads them back, merges batch 1, and persists its
    // own updated tables; gen 2 reads THOSE back and merges batch 2.
    // The gen-2 incremental manifest must equal the from-scratch
    // rebuild of the whole corpus — prefix-sum composition across two
    // generations and a disk round-trip, not one derived in-query cut
    // (q243's documented fixture limitation).
    val tmp = java.nio.file.Files.createTempDirectory("graft_manifest_gen").toString
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val (cut1, cut2) = (maxId / 3, maxId * 2 / 3)
    val gen0 = docs.filter(col("doc_id") < cut1)
    val delta1 = docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2)
    val delta2 = docs.filter(col("doc_id") >= cut2)
    val asg0 = graft.operators.CorpusOps.shardAssign(gen0)
    asg0.groupBy("shard").agg(
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
      .write.mode("overwrite").parquet(s"$tmp/tot_g0")
    asg0.groupBy("shard", "source").agg(count(lit(1)).as("src_docs"))
      .write.mode("overwrite").parquet(s"$tmp/bysrc_g0")
    val (tot1, bySrc1) = Corpus.manifestDeltaTables(
      spark.read.parquet(s"$tmp/tot_g0"), spark.read.parquet(s"$tmp/bysrc_g0"), delta1)
    tot1.write.mode("overwrite").parquet(s"$tmp/tot_g1")
    bySrc1.write.mode("overwrite").parquet(s"$tmp/bysrc_g1")
    val inc = Corpus.manifestDelta(
        spark.read.parquet(s"$tmp/tot_g1"), spark.read.parquet(s"$tmp/bysrc_g1"), delta2)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    val scratch = Corpus.shardManifest(docs)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(inc == scratch, "two-generation persisted composition != from-scratch rebuild")
    // the persisted gen-1 tables must THEMSELVES match a gen-1 rebuild
    // (the invariant that lets generation k+1 trust what k stored)
    val asg01 = graft.operators.CorpusOps.shardAssign(
      docs.filter(col("doc_id") < cut2))
    val tot1Rebuild = asg01.groupBy("shard").agg(
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
      .orderBy("shard").collect().map(_.toSeq).toSeq
    val tot1Stored = spark.read.parquet(s"$tmp/tot_g1")
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(tot1Stored == tot1Rebuild, "stored gen-1 totals diverge from a gen-1 rebuild")
  }

  test("connected components run to the fixpoint or fail by name, never truncate") {
    import graft.operators.{Dedup, Fixpoint}
    def path(n: Long) = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(path(30)).collect().map(_.getLong(1))
    assert(labels.length == 30 && labels.forall(_ == 0L), labels.mkString(","))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path(Fixpoint.MaxRounds + 1L))
    }
    assert(e.isInstanceOf[Fixpoint.NotConverged])
    assert(e.getMessage == s"connected components did not converge within ${Fixpoint.MaxRounds} rounds")
  }

  test("empty input: no pairs and no documents give empty results, not a null-row error") {
    val cc = graft.operators.Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(cc.columns.toSeq == Seq("d", "lab") && cc.isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    docs.limit(0).write.parquet(s"$dir/documents.parquet")
    val neg = graft.operators.CorpusOps.q216NegativePairs.fn(spark, dir)
    assert(neg.columns.toSeq == Seq("doc_id", "k", "neg_id") && neg.isEmpty)
  }
}
