package graft

import graft.api.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The embedding facade must agree with the oracle-checked declared
  * queries it mirrors, and behave correctly on seeded geometry.
  */
class VectorsApiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.sources.Tables.embeddings(spark, sfDir)

  test("cosineTopK facade matches the declared q45 result") {
    val viaFacade = Vectors.cosineTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.Similarity.q45CosineTopK.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("ivfAssign facade matches the declared q67 result") {
    val centroids = emb.filter(col("vec_id") < 16)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    val viaFacade = Vectors.ivfAssign(emb, centroids)
      .select("vec_id", "list_id").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.Similarity.q67IvfAssign.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("nearDupPairs cell knob: exact mode ≡ B=1 split; audit reports the engaged bound") {
    // at sf0.001 every bucket holds far fewer than 512 vectors, so the
    // production cell target must be a no-op (B = 1, identical pairs).
    // cellTarget = None is the explicit opt-in to the quadratic exact
    // scan; the DEFAULT is the production bound, aligned with the
    // audit's default so no-argument pairs + no-argument audit agree.
    val exact = Vectors.nearDupPairs(emb, minCos = 0.3, cellTarget = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = Vectors.nearDupPairs(emb, minCos = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == split, "cell split changed output despite B = 1 everywhere")
    // exact mode is the BoundedPairs Exact self-join: with every bucket
    // forced hot, the block join (ids and embeddings swapped together)
    // yields the same pairs and cosines
    import graft.operators.BoundedPairs
    val blocked = BoundedPairs(Vectors.hyperplaneBuckets(emb), Seq("bucket"), "vec_id",
        Seq("embedding"), BoundedPairs.Exact(hotThreshold = 2, shards = 3))
      .select(col("vec_id_a"), col("vec_id_b"),
        round(Vectors.cosine("embedding_a", "embedding_b"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
    assert(blocked.collect().map(_.toSeq).toSet ==
      Vectors.nearDupPairs(emb, minCos = 0.3, cellTarget = None).collect().map(_.toSeq).toSet)
    val audit = Vectors.nearDupCellAudit(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(audit.nonEmpty)
    audit.foreach { case (_, n, cells, engaged) =>
      assert(cells == (n + 511) / 512)
      assert(engaged == (cells > 1))
    }
    assert(audit.forall(!_._4), "bound unexpectedly engaged at sf0.001")
    // a tiny target MUST engage the bound somewhere and can only DROP pairs
    val tiny = Vectors.nearDupCellAudit(emb, cellTarget = 2L).collect()
    assert(tiny.exists(_.getBoolean(3)), "cellTarget=2 never engaged — audit broken")
    val tinyPairs = Vectors.nearDupPairs(emb, minCos = 0.3, cellTarget = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tinyPairs.subsetOf(exact))
  }

  test("nearDupPairs finds an exact duplicate pair on seeded vectors") {
    val v = Seq(0.5f, -1.25f, 2.0f, 0.125f, -0.75f, 1.5f, -0.25f, 1.0f)
    val w = Seq(2.0f, 0.5f, -0.5f, 1.75f, 0.25f, -1.0f, 0.75f, -1.5f)
    val df = Seq((1L, v), (2L, v), (3L, w)).toDF("vec_id", "embedding")
    val pairs = Vectors.nearDupPairs(df, minCos = 0.999)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  // -------------------------------------------------------------------
  // Product quantization (q234/q235): pure-Scala replay of the integer
  // Lloyd trainer, independent of both Spark's plan and the oracle.
  // -------------------------------------------------------------------

  import graft.operators.Similarity.{PqM, PqDsub, PqK}

  /** Micro-quantized vectors, sorted by vec_id. */
  private lazy val pqVecs: Seq[(Long, Array[Long])] =
    emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray)
      .sortBy(_._1).toSeq

  private def pqSlice(v: Array[Long], sub: Int): Array[Long] =
    v.slice(sub * PqDsub, (sub + 1) * PqDsub)

  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Two Lloyd iterations per subspace; returns the final update
    * relation keyed (sub, cid) -> (centroid dims, member count). */
  private def pqTrainScala(vecs: Seq[(Long, Array[Long])] = pqVecs): Map[(Int, Long), (Array[Long], Long)] = {
    var cents: Map[(Int, Long), Array[Long]] =
      (for ((id, qe) <- vecs.take(PqK).zipWithIndex.map { case ((_, qe), i) => (i.toLong, qe) };
            sub <- 0 until PqM)
        yield (sub, id) -> pqSlice(qe, sub)).toMap
    var last: Map[(Int, Long), (Array[Long], Long)] = Map.empty
    for (_ <- 1 to 2) {
      val asg = for ((vid, qe) <- vecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(qe, sub)
        val cid = cents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
        (sub, cid, sq)
      }
      last = asg.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
        val n = xs.size.toLong
        val mean = Array.tabulate(PqDsub)(d => xs.map(_._3(d)).sum / n)
        k -> (mean, n)
      }
      cents = last.map { case (k, (m, _)) => k -> m }
    }
    last
  }

  test("q234 PQ codebook reconciles with a pure-Scala Lloyd replay") {
    val expect = pqTrainScala()
    val got = graft.operators.Similarity.q234PqCodebook.fn(spark, sfDir)
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1)), r.getLong(2).toInt,
        r.getLong(3), r.getDouble(4)))
    assert(got.length == expect.size * PqDsub, "codebook row count")
    got.foreach { case (key, dim, n, centroid) =>
      val (m, en) = expect(key)
      assert(n == en, s"members at $key")
      assert(centroid == BigDecimal(m(dim) / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"centroid at $key dim $dim")
    }
  }

  test("q235 ADC top-k reconciles with a LUT replay and exact re-scores") {
    val cents = pqTrainScala().map { case (k, (m, _)) => k -> m }
    val codes = for ((vid, qe) <- pqVecs; sub <- 0 until PqM) yield {
      val sq = pqSlice(qe, sub)
      (vid, sub, cents.collect { case ((s, c), cq) if s == sub =>
        c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1)
    }
    val (qid, qqe) = pqVecs.head // lowest vec_id is the query
    val lut = cents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(qqe, s), cq) }
    val adc = codes.groupBy(_._1).map { case (vid, xs) =>
      vid -> xs.map(t => lut((t._2, t._3))).sum }
    val expect = adc.toSeq.filter(_._1 != qid)
      .sortBy { case (vid, a) => (a, vid) }.take(20)
      .map { case (vid, a) => (vid, a, d2(pqVecs.find(_._1 == vid).get._2, qqe)) }
    val got = graft.operators.Similarity.q235PqAdcTopk.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  test("q238 IVFADC reconciles with a pure-Scala probed-list replay") {
    import graft.operators.Similarity.{NumCentroids, NProbe}
    // coarse routing replay on the FLOAT embeddings (the q67 contract:
    // sequential double L2 fold, ties to the lower centroid id)
    val floats: Seq[(Long, Array[Float])] =
      emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    val coarse = floats.take(NumCentroids)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    def probes(v: Array[Float], n: Int): Seq[Long] =
      coarse.map { case (cid, ce) => (l2(v, ce), cid) }.sortBy(identity).take(n).map(_._2)
    val asg: Map[Long, Long] = floats.map { case (vid, v) => vid -> probes(v, 1).head }.toMap
    // PQ replay (shared with the q234/q235 pins)
    val cents = pqTrainScala().map { case (k, (m, _)) => k -> m }
    val codes: Map[(Long, Int), Long] =
      (for ((vid, qe) <- pqVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(qe, sub)
        (vid, sub) -> cents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    val expect = for {
      (qid, qv) <- floats.filter(_._1 < 10)
      probed = probes(qv, NProbe).toSet
      qqe = pqVecs.find(_._1 == qid).get._2
      lut = cents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(qqe, s), cq) }
      cand = pqVecs.filter { case (vid, _) => vid != qid && probed(asg(vid)) }
      scored = cand.map { case (vid, _) =>
        vid -> (0 until PqM).map(s => lut((s, codes((vid, s))))).sum }
      ((vid, adc), i) <- scored.sortBy { case (v, a) => (a, v) }.take(5).zipWithIndex
    } yield (qid, vid, adc, d2(pqVecs.find(_._1 == vid).get._2, qqe), i + 1L)
    val got = graft.operators.Similarity.q238IvfAdcTopk.fn(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4).toLong)).toSeq
    assert(got == expect)
  }

  test("q241 residual IVFADC reconciles with a pure-Scala residual replay") {
    import graft.operators.Similarity.{NumCentroids, NProbe}
    val floats: Seq[(Long, Array[Float])] =
      emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    val coarse = floats.take(NumCentroids)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    def probes(v: Array[Float], n: Int): Seq[Long] =
      coarse.map { case (cid, ce) => (l2(v, ce), cid) }.sortBy(identity).take(n).map(_._2)
    val asg: Map[Long, Long] = floats.map { case (vid, v) => vid -> probes(v, 1).head }.toMap
    val qMap = pqVecs.toMap
    def residual(vid: Long, listId: Long): Array[Long] =
      qMap(vid).zip(qMap(listId)).map { case (x, c) => x - c }
    // PQ trained on the RESIDUAL vectors (each vs its own list centroid)
    val residVecs = pqVecs.map { case (vid, _) => vid -> residual(vid, asg(vid)) }
    val cents = pqTrainScala(residVecs).map { case (k, (m, _)) => k -> m }
    val codes: Map[(Long, Int), Long] =
      (for ((vid, rqe) <- residVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(rqe, sub)
        (vid, sub) -> cents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    val expect = for {
      (qid, qv) <- floats.filter(_._1 < 10)
      probed = probes(qv, NProbe)
      // one LUT per probed list: the query's residual differs per list
      luts = probed.map(l => l ->
        cents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(residual(qid, l), s), cq) }).toMap
      cand = pqVecs.collect { case (vid, _)
        if vid != qid && probed.contains(asg(vid)) => vid }
      scored = cand.map { vid =>
        vid -> (0 until PqM).map(s => luts(asg(vid))((s, codes((vid, s))))).sum }
      ((vid, adc), i) <- scored.sortBy { case (v, a) => (a, v) }.take(5).zipWithIndex
    } yield (qid, vid, adc, d2(qMap(vid), qMap(qid)), i + 1L)
    val got = graft.operators.Similarity.q241ResidualIvfAdc.fn(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4).toLong)).toSeq
    assert(got == expect)
  }

  test("ivfImbalance facade matches the declared q245 result") {
    val centroids = emb.filter(col("vec_id") < 16)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
    val viaFacade = Vectors.ivfImbalance(emb, centroids)
      .collect().map(_.toSeq).toSeq
    val viaQuery = graft.operators.Similarity.q245IvfImbalance.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaFacade == viaQuery)
  }

  test("q245 imbalance factor reconciles with a pure-Scala gamma recount") {
    import graft.operators.Similarity.NumCentroids
    val floats: Seq[(Long, Array[Float])] =
      emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    val coarse = floats.take(NumCentroids)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val sizes = floats
      .map { case (_, v) => coarse.map { case (cid, ce) => (l2(v, ce), cid) }.min._2 }
      .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
    val n = sizes.sum
    val s2 = sizes.map(s => s * s).sum
    val row = graft.operators.Similarity.q245IvfImbalance.fn(spark, sfDir)
      .collect().head
    assert(row.getLong(0) == NumCentroids.toLong)
    assert(row.getLong(1) == n, "n")
    assert(row.getLong(2) == sizes.size.toLong, "n_lists_used")
    assert(row.getLong(3) == sizes.max, "max_list")
    assert(row.getLong(4) == sizes.min, "min_list")
    assert(row.getLong(5) == NumCentroids * s2 * 1000000L / (n * n), "gamma_ppm")
    // a balanced index has gamma = 1; any skew pushes it strictly up
    assert(row.getLong(5) >= 1000000L)
  }

  test("q242 IVFADC recall reconciles with a pure-Scala recall recount") {
    import graft.operators.Similarity.NumCentroids
    // coarse routing + PQ replay, exactly the q238 machinery but with
    // the probe count as a parameter
    val floats: Seq[(Long, Array[Float])] =
      emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    val coarse = floats.take(NumCentroids)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    def probes(v: Array[Float], n: Int): Seq[Long] =
      coarse.map { case (cid, ce) => (l2(v, ce), cid) }.sortBy(identity).take(n).map(_._2)
    val asg: Map[Long, Long] = floats.map { case (vid, v) => vid -> probes(v, 1).head }.toMap
    val cents = pqTrainScala().map { case (k, (m, _)) => k -> m }
    val codes: Map[(Long, Int), Long] =
      (for ((vid, qe) <- pqVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(qe, sub)
        (vid, sub) -> cents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    val qMap = pqVecs.toMap
    // exact exhaustive top-5 per query in the quantized domain
    def exact5(qid: Long): Set[Long] =
      pqVecs.filter(_._1 != qid)
        .map { case (vid, qe) => (d2(qe, qMap(qid)), vid) }
        .sortBy(identity).take(5).map(_._2).toSet
    def adc5(qid: Long, np: Int): Set[Long] = {
      val probed = probes(floats.find(_._1 == qid).get._2, np).toSet
      val lut = cents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(qMap(qid), s), cq) }
      pqVecs.collect { case (vid, _) if vid != qid && probed(asg(vid)) => vid }
        .map(vid => (((0 until PqM).map(s => lut((s, codes((vid, s))))).sum), vid))
        .sortBy(identity).take(5).map(_._2).toSet
    }
    val got = graft.operators.Similarity.q242IvfAdcRecall.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val qids = floats.map(_._1).filter(_ < 10)
    assert(got.keySet == (for (np <- Seq(1L, 2L, 4L); q <- qids) yield (np, q)).toSet)
    got.foreach { case ((np, qid), (nExact, hits, ppm)) =>
      val ex = exact5(qid)
      assert(nExact == ex.size, s"n_exact at nprobe=$np q=$qid")
      assert(hits == (ex & adc5(qid, np.toInt)).size, s"hits at nprobe=$np q=$qid")
      assert(ppm == hits * 1000000L / nExact, s"ppm at nprobe=$np q=$qid")
    }
  }

  test("q246 residual-vs-raw recall reconciles with a pure-Scala recount") {
    import graft.operators.Similarity.NumCentroids
    val floats: Seq[(Long, Array[Float])] =
      emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).toSeq
    val coarse = floats.take(NumCentroids)
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    def probes(v: Array[Float], n: Int): Seq[Long] =
      coarse.map { case (cid, ce) => (l2(v, ce), cid) }.sortBy(identity).take(n).map(_._2)
    val asg: Map[Long, Long] = floats.map { case (vid, v) => vid -> probes(v, 1).head }.toMap
    val qMap = pqVecs.toMap
    // raw-code machinery (the q242 recount's)
    val cents = pqTrainScala().map { case (k, (m, _)) => k -> m }
    val codes: Map[(Long, Int), Long] =
      (for ((vid, qe) <- pqVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(qe, sub)
        (vid, sub) -> cents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    // residual-code machinery (the q241 recount's)
    def residual(vid: Long, listId: Long): Array[Long] =
      qMap(vid).zip(qMap(listId)).map { case (x, c) => x - c }
    val residVecs = pqVecs.map { case (vid, _) => vid -> residual(vid, asg(vid)) }
    val rcents = pqTrainScala(residVecs).map { case (k, (m, _)) => k -> m }
    val rcodes: Map[(Long, Int), Long] =
      (for ((vid, rqe) <- residVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(rqe, sub)
        (vid, sub) -> rcents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    def exact5(qid: Long): Set[Long] =
      pqVecs.filter(_._1 != qid)
        .map { case (vid, qe) => (d2(qe, qMap(qid)), vid) }
        .sortBy(identity).take(5).map(_._2).toSet
    def adc5raw(qid: Long, np: Int): Set[Long] = {
      val probed = probes(floats.find(_._1 == qid).get._2, np).toSet
      val lut = cents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(qMap(qid), s), cq) }
      pqVecs.collect { case (vid, _) if vid != qid && probed(asg(vid)) => vid }
        .map(vid => (((0 until PqM).map(s => lut((s, codes((vid, s))))).sum), vid))
        .sortBy(identity).take(5).map(_._2).toSet
    }
    def adc5res(qid: Long, np: Int): Set[Long] = {
      val probed = probes(floats.find(_._1 == qid).get._2, np)
      val luts = probed.map(l => l ->
        rcents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(residual(qid, l), s), cq) }).toMap
      pqVecs.collect { case (vid, _) if vid != qid && probed.contains(asg(vid)) => vid }
        .map(vid => (((0 until PqM).map(s => luts(asg(vid))((s, rcodes((vid, s))))).sum), vid))
        .sortBy(identity).take(5).map(_._2).toSet
    }
    val got = graft.operators.Similarity.q246ResidualRecall.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val qids = floats.map(_._1).filter(_ < 10)
    assert(got.keySet == (for (np <- Seq(1L, 2L, 4L); q <- qids) yield (np, q)).toSet)
    got.foreach { case ((np, qid), (nExact, hitsRaw, ppmRaw, hitsRes, ppmRes)) =>
      val ex = exact5(qid)
      assert(nExact == ex.size, s"n_exact at nprobe=$np q=$qid")
      assert(hitsRaw == (ex & adc5raw(qid, np.toInt)).size, s"hits_raw at nprobe=$np q=$qid")
      assert(ppmRaw == hitsRaw * 1000000L / nExact, s"raw ppm at nprobe=$np q=$qid")
      assert(hitsRes == (ex & adc5res(qid, np.toInt)).size, s"hits_res at nprobe=$np q=$qid")
      assert(ppmRes == hitsRes * 1000000L / nExact, s"res ppm at nprobe=$np q=$qid")
    }
    // the raw numbers must be EXACTLY q242's — same encoding, same arms
    val q242 = graft.operators.Similarity.q242IvfAdcRecall.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    got.foreach { case (k, (nExact, hitsRaw, ppmRaw, _, _)) =>
      assert(q242(k) == ((nExact, hitsRaw, ppmRaw)), s"raw side diverged from q242 at $k")
    }
  }

  test("q248 trained-coarse recall reconciles with a pure-Scala recount") {
    import graft.operators.Similarity.KmeansK
    val dims = pqVecs.head._2.length
    // trained coarse codebook replay: 64-dim integer Lloyd, K = 8,
    // 2 iterations, q105's seed and packed-argmin tie rule
    var cents: Map[Long, Array[Long]] = pqVecs.take(KmeansK).zipWithIndex
      .map { case ((_, qe), i) => i.toLong -> qe }.toMap
    for (_ <- 1 to 2) {
      val asgIt = pqVecs.map { case (_, qe) =>
        (cents.map { case (c, cq) => c -> (d2(qe, cq) * KmeansK + c) }.minBy(_._2)._1, qe)
      }
      cents = asgIt.groupBy(_._1).map { case (c, xs) =>
        val n = xs.size
        c -> Array.tabulate(dims)(d => xs.map(_._2(d)).sum / n)
      }
    }
    val qMap = pqVecs.toMap
    def cprobes(qe: Array[Long], n: Int): Seq[Long] =
      cents.toSeq.map { case (c, cq) => (d2(qe, cq), c) }.sortBy(identity).take(n).map(_._2)
    val asg: Map[Long, Long] = pqVecs.map { case (vid, qe) => vid -> cprobes(qe, 1).head }.toMap
    // raw PQ (coarse-codebook-independent)
    val pqCents = pqTrainScala().map { case (k, (m, _)) => k -> m }
    val codes: Map[(Long, Int), Long] =
      (for ((vid, qe) <- pqVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(qe, sub)
        (vid, sub) -> pqCents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    // residual PQ vs the trained centroids
    def residual(vid: Long, listId: Long): Array[Long] =
      qMap(vid).zip(cents(listId)).map { case (x, c) => x - c }
    val residVecs = pqVecs.map { case (vid, _) => vid -> residual(vid, asg(vid)) }
    val rcents = pqTrainScala(residVecs).map { case (k, (m, _)) => k -> m }
    val rcodes: Map[(Long, Int), Long] =
      (for ((vid, rqe) <- residVecs; sub <- 0 until PqM) yield {
        val sq = pqSlice(rqe, sub)
        (vid, sub) -> rcents.collect { case ((s, c), cq) if s == sub =>
          c -> (d2(sq, cq) * PqK + c) }.minBy(_._2)._1
      }).toMap
    def exact5(qid: Long): Set[Long] =
      pqVecs.filter(_._1 != qid)
        .map { case (vid, qe) => (d2(qe, qMap(qid)), vid) }
        .sortBy(identity).take(5).map(_._2).toSet
    def adc5raw(qid: Long, np: Int): Set[Long] = {
      val probed = cprobes(qMap(qid), np).toSet
      val lut = pqCents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(qMap(qid), s), cq) }
      pqVecs.collect { case (vid, _) if vid != qid && probed(asg(vid)) => vid }
        .map(vid => (((0 until PqM).map(s => lut((s, codes((vid, s))))).sum), vid))
        .sortBy(identity).take(5).map(_._2).toSet
    }
    def adc5res(qid: Long, np: Int): Set[Long] = {
      val probed = cprobes(qMap(qid), np)
      val luts = probed.map(l => l ->
        rcents.map { case ((s, c), cq) => (s, c) -> d2(pqSlice(residual(qid, l), s), cq) }).toMap
      pqVecs.collect { case (vid, _) if vid != qid && probed.contains(asg(vid)) => vid }
        .map(vid => (((0 until PqM).map(s => luts(asg(vid))((s, rcodes((vid, s))))).sum), vid))
        .sortBy(identity).take(5).map(_._2).toSet
    }
    val got = graft.operators.Similarity.q248TrainedCoarseRecall.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val qids = pqVecs.map(_._1).filter(_ < 10)
    assert(got.keySet == (for (np <- Seq(1L, 2L, 4L); q <- qids) yield (np, q)).toSet)
    got.foreach { case ((np, qid), (nExact, hitsRaw, ppmRaw, hitsRes, ppmRes)) =>
      val ex = exact5(qid)
      assert(nExact == ex.size, s"n_exact at nprobe=$np q=$qid")
      assert(hitsRaw == (ex & adc5raw(qid, np.toInt)).size, s"hits_raw at nprobe=$np q=$qid")
      assert(ppmRaw == hitsRaw * 1000000L / nExact, s"raw ppm at nprobe=$np q=$qid")
      assert(hitsRes == (ex & adc5res(qid, np.toInt)).size, s"hits_res at nprobe=$np q=$qid")
      assert(ppmRes == hitsRes * 1000000L / nExact, s"res ppm at nprobe=$np q=$qid")
    }
    // q249: the trained index's gamma must reconcile with the SAME
    // trained-assignment replay (list labels shared with the recall
    // recount above by construction)
    val sizes = pqVecs.map { case (vid, _) => asg(vid) }
      .groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
    val n = sizes.sum
    val s2 = sizes.map(s => s * s).sum
    val g = graft.operators.Similarity.q249TrainedIvfImbalance.fn(spark, sfDir)
      .collect().head
    assert(g.getLong(0) == KmeansK.toLong)
    assert(g.getLong(1) == n, "n")
    assert(g.getLong(2) == sizes.size.toLong, "n_lists_used")
    assert(g.getLong(3) == sizes.max, "max_list")
    assert(g.getLong(4) == sizes.min, "min_list")
    assert(g.getLong(5) == KmeansK * s2 * 1000000L / (n * n), "gamma_ppm")
  }
}
