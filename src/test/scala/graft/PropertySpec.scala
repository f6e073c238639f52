package graft

import graft.functions.{Dsp, Rotations}
import graft.operators.SeriesOps
import graft.operators.SeriesOps.Series
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2): axis contiguity after
  * delete-collapse, normalization moments, wrap ranges, rotation
  * orthonormality, interpolation totality. Generators are sampled
  * with fixed seeds so runs are deterministic.
  */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic sampling loop over a ScalaCheck generator. */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val s = Series(Seq("k"), "t", Seq("i"))

  private val valuesGen: Gen[List[Double]] =
    Gen.chooseNum(4, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3).map(v => math.rint(v * 100) / 100)))

  test("delete-collapse: surviving axis starts at 0, contiguous ms grid") {
    forSamples(valuesGen.flatMap(vs =>
      Gen.chooseNum(0.0, 1.0).flatMap(a => Gen.chooseNum(0.0, 0.5).map((vs, a, _)))), 8) {
      case (vs, a, w) =>
        val df = vs.zipWithIndex.map { case (v, i) => (1L, i.toLong, i * 0.01, v) }
          .toDF("k", "i", "t", "v")
        val lo = a * vs.size * 0.01
        val ts = SeriesOps.deleteCollapse(df, s, lo, lo + w)
          .orderBy("t").select("t").collect().map(_.getDouble(0))
        if (ts.length > 1) {
          val dts = ts.sliding(2).map(p => math.rint((p(1) - p(0)) * 1000)).toSet
          assert(dts.size == 1, s"non-uniform collapsed axis: $dts")
        }
        assert(ts.headOption.forall(_ == 0.0))
    }
  }

  test("pd.eval dialect shim: exprs without dialect tokens are identity; pow ops never crash") {
    // identity on anything free of ** / ~ / True / False / None
    val sqlish: Gen[String] = for {
      cols <- Gen.listOfN(3, Gen.oneOf("value", "v2", "abs(value)", "1.5", "(value + 2)"))
      ops <- Gen.listOfN(2, Gen.oneOf(" + ", " * ", " - ", " / "))
    } yield cols.head + ops.head + cols(1) + ops(1) + cols(2)
    forSamples(sqlish, 20) { e =>
      assert(graft.engine.Plugins.translateExpr(e) == e, e)
    }
    // every generated a ** b over identifier/number/paren/call operands
    // translates to a pow() call that still references both operands
    val operand: Gen[String] =
      Gen.oneOf("x", "y_2", "3", "2.5", "(x + 1)", "abs(x)", "-2", "('a')")
    forSamples(Gen.zip(operand, operand), 20) { case (a, b) =>
      val t = graft.engine.Plugins.translateExpr(s"$a ** $b")
      // a leading unary minus stays OUTSIDE the pow call — Python's
      // ** binds tighter than unary minus (-2 ** x == -(2**x))
      assert(t.contains("pow(") && !t.contains("**"), s"$a ** $b -> $t")
    }
  }

  test("in-kernel fs inference matches the S4 load-path inference exactly") {
    // SignalKernels.inferFsLocal (per-group, drives Hz-dialect filter
    // design) and TrialReader.inferSampleRate (load path, q49 oracle)
    // implement the same reference formula — pin them together so an
    // edit to one can't silently skew the other
    val axisGen: Gen[List[Double]] =
      Gen.chooseNum(2, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(0.0, 0.005, 0.01, 0.02, 0.1, 0.25)))
    forSamples(axisGen, 12) { steps =>
      val ts = steps.scanLeft(0.0)(_ + _).toArray
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toSeq.toDF("i", "normalized_time")
      val fromDf = graft.sources.TrialReader.inferSampleRate(df, "normalized_time")
      val fromArr = graft.operators.SignalKernels.inferFsLocal(ts)
      assert(fromDf == fromArr, s"axis=${ts.toSeq}")
    }
  }

  test("zscore output: mean 0, population std 1 (or all-zero)") {
    forSamples(valuesGen, 8) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (1L, i.toLong, i * 1.0, v) }
        .toDF("k", "i", "t", "v")
      val zs = SeriesOps.zscore(df, s, "v", "z")
        .select("z").collect().map(_.getDouble(0))
      val mean = zs.sum / zs.length
      val std = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum / zs.length)
      assert(math.abs(mean) < 1e-6)
      assert(math.abs(std - 1.0) < 1e-6 || std < 1e-12)
    }
  }

  test("percent normalize stays within [-100, 100]") {
    forSamples(valuesGen, 8) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (1L, i.toLong, i * 1.0, v) }
        .toDF("k", "i", "t", "v")
      SeriesOps.percentNormalize(df, s, "v", "p")
        .select("p").collect().map(_.getDouble(0))
        .foreach(p => assert(p >= -100.0 - 1e-9 && p <= 100.0 + 1e-9))
    }
  }

  test("frame transform always lands in [-180, 180)") {
    val gen = for {
      src <- Gen.chooseNum(-720.0, 720.0)
      dst <- Gen.chooseNum(-720.0, 720.0)
      off <- Gen.chooseNum(-360.0, 360.0)
    } yield (src, dst, off)
    forSamples(gen, 8) { case (src, dst, off) =>
      val w = Seq((src, dst)).toDF("s", "d")
        .select(SeriesOps.frameTransform(col("s"), col("d"), off).as("w"))
        .head().getDouble(0)
      assert(w >= -180.0 && w < 180.0)
    }
  }

  /** Plain-Scala gap fill over one series sorted by (t, i): the
    * bracketing non-nulls of each row, inclusive of the row itself.
    */
  private def refInterpolate(method: String, rows: Seq[(Double, Option[Double])]): Seq[Option[Double]] =
    rows.indices.map { j =>
      val (t, v) = rows(j)
      val prev = rows.take(j + 1).reverse.collectFirst { case (pt, Some(pv)) => (pv, pt) }
      val next = rows.drop(j).collectFirst { case (nt, Some(nv)) => (nv, nt) }
      v.orElse((method, prev, next) match {
        case (_, None, n) => n.map(_._1)
        case ("zero", Some((pv, _)), _) => Some(pv)
        case (_, Some((pv, _)), None) => Some(pv)
        case ("nearest", Some((pv, pt)), Some((nv, nt))) => Some(if (t - pt <= nt - t) pv else nv)
        case (_, Some((pv, pt)), Some((nv, nt))) =>
          Some(if (nt != pt) pv + (nv - pv) * (t - pt) / (nt - pt) else pv)
      })
    }

  test("interpolate is total whenever any value is non-null") {
    // two series per frame; times repeat (equal times split by the tie
    // column i), values come in null runs; plus the edge shapes
    val seriesGen: Gen[List[(Double, Option[Double])]] = for {
      n <- Gen.chooseNum(1, 30)
      steps <- Gen.listOfN(n, Gen.oneOf(0.0, 0.0, 0.5, 1.25))
      runs <- Gen.listOfN(n, Gen.chooseNum(0, 4))
      vs <- Gen.listOfN(n, Gen.chooseNum(-50.0, 50.0))
    } yield steps.scanLeft(0.0)(_ + _).tail.zip(runs.zip(vs).map {
      case (r, v) => if (r < 2) None else Some(v)
    })
    val edges = List(
      List((0.0, Some(3.0))), List((0.0, None)), List((0.0, None), (1.0, None), (1.0, None)),
      List((1.0, Some(2.0)), (1.0, None), (1.0, Some(8.0)), (2.0, None)))
    val cases = (0 until 12).flatMap(i => seriesGen(Gen.Parameters.default, Seed(42L + i)))
      .grouped(2).map(_.toList).toList ++ edges.map(e => List(e, e.reverse.map(_.copy(_1 = 0.0))))
    cases.foreach { series =>
      val df = series.zipWithIndex.flatMap { case (rows, k) =>
        rows.zipWithIndex.map { case ((t, v), i) => (k.toLong, i.toLong, t, v) }
      }.toDF("k", "i", "t", "v")
      for (m <- Seq("zero", "nearest", "linear")) {
        val got = SeriesOps.interpolate(df, s, m, Seq("v" -> "o"))
          .orderBy("k", "t", "i").select("k", "o").collect()
          .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(r => Option(r.get(1))).toSeq }
        series.zipWithIndex.foreach { case (rows, k) =>
          assert(got(k.toLong) == refInterpolate(m, rows), s"$m on $rows")
          if (rows.exists(_._2.isDefined)) assert(got(k.toLong).forall(_.isDefined))
        }
      }
      // probes on every sample time, between them and past both ends
      // read the linear fill of the same union (np.interp semantics)
      val probes = df.select(col("k"), col("t")).union(df.select(col("k"), col("t") + 0.25))
        .union(df.select(col("k"), col("t") - 2.0)).distinct()
      val at = graft.operators.Resample.interpolateAt(df, probes, s, "v", "o")
        .orderBy("k", "t").collect().map(r => (r.getLong(0), r.getDouble(1), Option(r.get(2))))
      at.foreach { case (k, t, o) =>
        val (before, after) = series(k.toInt).filter(_._2.isDefined).partition(_._1 <= t)
        val expect = refInterpolate("linear", (before :+ ((t, None))) ++ after)(before.size)
        assert(o == expect, s"interpolateAt($t) on ${series(k.toInt)}")
      }
    }
  }

  test("B-splines interpolate their knots and reproduce same-degree polynomials") {
    val knotsGen = for {
      n <- Gen.chooseNum(4, 30)
      gaps <- Gen.listOfN(n, Gen.chooseNum(0.05, 2.0))
      ys <- Gen.listOfN(n, Gen.chooseNum(-50.0, 50.0))
    } yield (gaps.scanLeft(0.0)(_ + _).tail.toArray, ys.toArray)
    forSamples(knotsGen, 40) { case (ts, xs) =>
      // interpolation property: both global solves hit every knot
      val fc = Dsp.notAKnotCubicSpline(ts, xs)
      val fq = Dsp.quadraticSpline(ts, xs)
      ts.indices.foreach { i =>
        assert(math.abs(fc(ts(i)) - xs(i)) < 1e-7, s"cubic knot $i")
        assert(math.abs(fq(ts(i)) - xs(i)) < 1e-7, s"quad knot $i")
      }
      // polynomial reproduction: the spline space contains all
      // polynomials of its degree, and the collocation solution is
      // unique — so exactly-cubic (resp. quadratic) data comes back
      // as that polynomial at every off-knot site (a natural spline
      // FAILS this for cubics; not-a-knot must not)
      val cub = ts.map(t => ((0.03 * t - 0.4) * t + 2.0) * t - 7.0)
      val qud = ts.map(t => (0.5 * t - 3.0) * t + 11.0)
      val fc2 = Dsp.notAKnotCubicSpline(ts, cub)
      val fq2 = Dsp.quadraticSpline(ts, qud)
      val mids = ts.init.zip(ts.tail).map { case (a, b) => (a + b) / 2 }
      mids.foreach { m =>
        val ec = ((0.03 * m - 0.4) * m + 2.0) * m - 7.0
        val eq = (0.5 * m - 3.0) * m + 11.0
        assert(math.abs(fc2(m) - ec) < 1e-6 * (1 + math.abs(ec)), s"cubic repro at $m")
        assert(math.abs(fq2(m) - eq) < 1e-6 * (1 + math.abs(eq)), s"quad repro at $m")
      }
    }
  }

  test("rotation matrices are orthonormal (det +1)") {
    val gen = for {
      w <- Gen.chooseNum(-1.0, 1.0); x <- Gen.chooseNum(-1.0, 1.0)
      y <- Gen.chooseNum(-1.0, 1.0); z <- Gen.chooseNum(-1.0, 1.0)
    } yield (w, x, y, z)
    forSamples(gen, 30) { case (w, x, y, z) =>
      if (math.sqrt(w * w + x * x + y * y + z * z) > 1e-3) {
        val m = Rotations.quatToMatrix(w, x, y, z)
        val det =
          m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
            m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
            m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
        assert(math.abs(det - 1.0) < 1e-9)
      }
    }
  }

  test("yaw from pure-yaw quaternion recovers the angle") {
    forSamples(Gen.chooseNum(-179.0, 179.0), 20) { deg =>
      val half = math.toRadians(deg) / 2
      val yaw = Rotations.yawFromQuat(math.cos(half), 0, 0, math.sin(half))
      assert(math.abs(yaw - deg) < 1e-9)
    }
  }

  test("direction basis is right-handed orthonormal off the Z axis") {
    val gen = for {
      dx <- Gen.chooseNum(-5.0, 5.0); dy <- Gen.chooseNum(-5.0, 5.0)
      dz <- Gen.chooseNum(-5.0, 5.0)
    } yield (dx, dy, dz)
    forSamples(gen, 30) { case (dx, dy, dz) =>
      // skip degenerate inputs (zero / Z-parallel), where the
      // reference's 1e-9 guard intentionally yields near-zero rows
      if (math.sqrt(dx * dx + dy * dy) > 1e-3) {
        val m = Rotations.directionBasis(dx, dy, dz)
        for (i <- 0 until 3; j <- 0 until 3) {
          val dot = m(i)(0) * m(j)(0) + m(i)(1) * m(j)(1) + m(i)(2) * m(j)(2)
          assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-6, s"rows $i,$j dot=$dot")
        }
        // right x up = fwd (right-handed, rows in reference vstack order)
        val cx = m(0)(1) * m(1)(2) - m(0)(2) * m(1)(1)
        val cy = m(0)(2) * m(1)(0) - m(0)(0) * m(1)(2)
        val cz = m(0)(0) * m(1)(1) - m(0)(1) * m(1)(0)
        assert(math.abs(cx - m(2)(0)) < 1e-6 && math.abs(cy - m(2)(1)) < 1e-6 &&
          math.abs(cz - m(2)(2)) < 1e-6)
        // fwd preserves the input direction
        val n = math.sqrt(dx * dx + dy * dy + dz * dz)
        assert(math.abs(m(2)(0) * n - dx) < 1e-4)
      }
    }
  }

  test("euler and quaternion agree on pure yaw rotation") {
    forSamples(Gen.chooseNum(-179.0, 179.0), 10) { deg =>
      val half = math.toRadians(deg) / 2
      val mq = Rotations.quatToMatrix(math.cos(half), 0, 0, math.sin(half))
      val me = Rotations.eulerToMatrix(deg, 0, 0)
      for (i <- 0 until 3; j <- 0 until 3)
        assert(math.abs(mq(i)(j) - me(i)(j)) < 1e-9)
    }
  }

  test("heading from a direction basis recovers the XY bearing") {
    forSamples(Gen.chooseNum(-179.0, 179.0), 15) { deg =>
      val r = math.toRadians(deg)
      val m = Rotations.directionBasis(math.cos(r), math.sin(r), 0.3)
      // fwd row keeps the XY bearing of the input direction
      assert(math.abs(Rotations.headingFromMatrix(m) - deg) < 1e-6)
    }
  }

  test("savgol center weights reproduce degree-2 polynomials") {
    forSamples(Gen.oneOf(5, 7, 9, 11).flatMap(w => Gen.oneOf(2, 3, 4).map((w, _))), 12) {
      case (w, p) =>
        if (p < w) {
          val coefs = Dsp.savgolCoefficients(w, p)
          val h = w / 2
          val value = coefs.zipWithIndex.map { case (c, i) =>
            val d = (i - h).toDouble
            c * (1.0 + 2 * d + (if (p >= 2) 3 * d * d else 0.0))
          }.sum
          assert(math.abs(value - 1.0) < 1e-7)
        }
    }
  }

  // ---- native text expressions ≡ interpreted HOF compositions on
  // randomized corpora (value-identity, not approximate)

  private val wordGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val docGen: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("native ShingleHash32 / SimHash32 / WinnowFingerprint ≡ HOF forms on random docs") {
    import graft.functions.TextHash
    forSamples(Gen.listOfN(12, docGen), 4) { texts =>
      val df = texts.toDF("text")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("fast_hs", TextHash.shingleHashesFromWords(col("ws")))
        .withColumn("ref_hs", TextHash.shingleHashesFromWordsHof(col("ws")))
      df.collect().foreach { r =>
        assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"shingle mismatch: ${r.getString(0)}")
      }
      val fp = org.apache.spark.sql.GraftExpressionBridge.column(
        graft.functions.WinnowFingerprint(
          org.apache.spark.sql.GraftExpressionBridge.expression(col("hs")), 4))
      val d2 = texts.toDF("text")
        .withColumn("hs", TextHash.shingleHashes(col("text")))
        .select(TextHash.simhash32(col("hs")).as("fast_sh"), expr(
          """aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) ->
            |  acc + if(2 * size(filter(hs, h -> shiftright(h, j) % 2 = 1)) > size(hs),
            |           shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin).as("ref_sh"),
          fp.as("fast_fp"),
          expr("""array_distinct(case when size(hs) >= 4 then
            |  transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))
            |  else cast(array() as array<bigint>) end)""".stripMargin).as("ref_fps"))
      d2.collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1), "simhash mismatch")
        val st = r.getStruct(2)
        val fps = r.getSeq[Long](3)
        assert(st.getLong(0) == fps.size.toLong, "winnow count mismatch")
        if (fps.nonEmpty) {
          assert(st.getLong(1) == fps.min && st.getLong(2) == fps.max, "winnow min/max")
          assert(st.getLong(3) == fps.foldLeft(0L)(_ ^ _), "winnow xor")
        } else assert(st.isNullAt(1) && st.isNullAt(2) && st.getLong(3) == 0L)
      }
    }
  }

  test("native RollingHashSummary ≡ unrolled polynomial on random texts") {
    val (b, m, k) = (257L, 1000003L, 5)
    val sparkTerm = (0 until k).map(j =>
      s"element_at(bs, i + $j) * ${Seq.fill(j)(b).product.max(1L)}L").mkString(" + ")
    val fpc = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.RollingHashSummary(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("text")), b, m, k))
    forSamples(Gen.listOfN(10, docGen.suchThat(_.length >= k)), 3) { texts =>
      val d = texts.toDF("text")
        .filter(length(col("text")) >= k)
        .withColumn("bs", expr("transform(split(text, ''), c -> cast(ascii(c) as bigint))"))
        .withColumn("hs", expr(
          s"transform(sequence(1, length(text) - ${k - 1}), i -> ($sparkTerm) % $m)"))
        .select(fpc.as("fast"),
          expr("array_min(hs)").as("rmin"), expr("array_max(hs)").as("rmax"),
          size(expr("array_distinct(hs)")).cast("long").as("rdis"))
      d.collect().foreach { r =>
        val st = r.getStruct(0)
        assert(st.getLong(0) == r.getLong(1) && st.getLong(1) == r.getLong(2)
          && st.getLong(2) == r.getLong(3), r.toString)
      }
    }
  }

  private val graphGen: Gen[Set[(Long, Long)]] =
    Gen.chooseNum(4, 12).flatMap { n =>
      Gen.listOfN(n * 2, Gen.zip(Gen.chooseNum(1L, n.toLong), Gen.chooseNum(1L, n.toLong)))
        .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet)
    }

  test("triangle counts match brute-force enumeration on random graphs") {
    forSamples(graphGen.suchThat(_.nonEmpty), 6) { und =>
      val got = graft.operators.Graphs.triangleCounts(und.toSeq.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      def adj(a: Long, b: Long) = und((math.min(a, b), math.max(a, b)))
      val brute = nodes.combinations(3)
        .filter { case Seq(a, b, c) => adj(a, b) && adj(b, c) && adj(a, c) }
        .flatMap(identity).toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == brute, s"graph=$und")
    }
  }

  test("DOULION census matches brute-force on the md5-kept subgraph (p=1/2, x8 estimator)") {
    // the derandomized sampler must keep EXACTLY the edges whose
    // md5("u:v") first-32-bit value is even — recompute the hash and
    // the kept-subgraph triangles independently
    def keepEdge(u: Long, v: Long, pInv: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:$v".getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h % pInv == 0
    }
    forSamples(graphGen.suchThat(_.nonEmpty), 6) { und =>
      for (pInv <- Seq(2, 4)) {
        val row = graft.operators.Graphs
          .doulionCensus(und.toSeq.toDF("u", "v"), pInv).collect().head
        val kept = und.filter { case (u, v) => keepEdge(u, v, pInv) }
        def adj(a: Long, b: Long) = kept((math.min(a, b), math.max(a, b)))
        val nodes = kept.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val tri = nodes.combinations(3)
          .count { case Seq(a, b, c) => adj(a, b) && adj(b, c) && adj(a, c) }.toLong
        assert(row.getLong(0) == und.size.toLong, s"n_edges, pInv=$pInv graph=$und")
        assert(row.getLong(1) == kept.size.toLong, s"n_kept, pInv=$pInv graph=$und")
        assert(row.getLong(2) == tri, s"tri_sampled, pInv=$pInv graph=$und")
        assert(row.getLong(3) == tri * pInv * pInv * pInv,
          s"tri_estimate, pInv=$pInv graph=$und")
      }
    }
  }

  test("hybrid triangle census reconciles with brute force on random graphs") {
    // recompute every census column independently: the (degree, node)
    // apex split, the exact low-apex count, the md5-kept high-induced
    // subgraph and its sampled count — and the exact-degenerate claim
    // (no high vertex ⇒ the "estimate" IS the exact total)
    def keepEdge(u: Long, v: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:$v".getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h % 2 == 0
    }
    forSamples(graphGen.suchThat(_.nonEmpty), 6) { und =>
      val row = graft.operators.Graphs
        .hybridTriangleCensus(und.toSeq.toDF("u", "v")).collect().head
      val m = und.size.toLong
      val tau = math.floor(math.sqrt(m.toDouble)).toLong
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      def adj(a: Long, b: Long) = und((math.min(a, b), math.max(a, b)))
      val nodes = deg.keySet.toSeq.sorted
      val tris = nodes.combinations(3)
        .filter { case Seq(a, b, c) => adj(a, b) && adj(b, c) && adj(a, c) }
        .map(_.minBy(x => (deg(x), x))).toSeq
      val triLow = tris.count(apex => deg(apex) <= tau).toLong
      val high = deg.filter(_._2 > tau).keySet
      val he = und.filter { case (u, v) => high(u) && high(v) }
      val kept = he.filter { case (u, v) => keepEdge(u, v) }
      def kadj(a: Long, b: Long) = kept((math.min(a, b), math.max(a, b)))
      val knodes = kept.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val triHigh = knodes.combinations(3)
        .count { case Seq(a, b, c) => kadj(a, b) && kadj(b, c) && kadj(a, c) }.toLong
      assert(row.getLong(0) == m, s"n_edges graph=$und")
      assert(row.getLong(1) == tau, s"tau graph=$und")
      assert(row.getLong(2) == high.size.toLong, s"n_high graph=$und")
      assert(row.getLong(3) == he.size.toLong, s"n_high_edges graph=$und")
      assert(row.getLong(4) == triLow, s"tri_low_exact graph=$und")
      assert(row.getLong(5) == triHigh, s"tri_high_sampled graph=$und")
      assert(row.getLong(6) == triHigh * 8, s"tri_high_estimate graph=$und")
      assert(row.getLong(7) == triLow + triHigh * 8, s"tri_total graph=$und")
      if (high.isEmpty)
        assert(row.getLong(7) == tris.size.toLong,
          s"no-high-vertex estimate must equal the exact total, graph=$und")
    }
  }

  test("doulionAuto picks pInv from the variance bound and lands inside the target") {
    // a 30-clique: T = C(30,3) = 4060 triangles, W = 30·C(29,2) = 12180
    // wedges — dense enough that the bound admits real sampling. With
    // ε = 0.5 and the default κ = 0.05 prior: T̃ = 203,
    // pInv = ⌊(0.25·203 + 1)^(1/3)⌋ = 3. The md5 sampler is
    // deterministic, so this is a fixed (reproducible) outcome, and
    // the measured relative error must land inside ε.
    val n = 30
    val clique = (for (u <- 1 to n; v <- u + 1 to n) yield (u.toLong, v.toLong)).toSeq
    val exactT = n.toLong * (n - 1) * (n - 2) / 6
    val row = graft.operators.Graphs
      .doulionAuto(clique.toDF("u", "v"), targetRelErr = 0.5).collect().head
    assert(row.getLong(4) == 3L, "chosen pInv off the bound")
    assert(row.getLong(0) == clique.size.toLong)
    val est = row.getLong(3)
    assert(math.abs(est - exactT).toDouble / exactT <= 0.5,
      s"estimate $est vs exact $exactT misses the 0.5 target")
    // triangle-sparse graph: the bound must refuse to sample (pInv = 1
    // keep-all ⇒ the census IS the exact count, error 0)
    val path = (1L to 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    val sparse = graft.operators.Graphs
      .doulionAuto(path.toDF("u", "v"), targetRelErr = 0.3).collect().head
    assert(sparse.getLong(4) == 1L, "sparse graph must fall back to exact")
    assert(sparse.getLong(1) == path.size.toLong, "pInv=1 must keep every edge")
    assert(sparse.getLong(3) == 0L, "a path has no triangles")
  }

  test("bfs hops match brute-force shortest paths on random graphs") {
    forSamples(graphGen.suchThat(_.nonEmpty), 6) { und =>
      val rounds = 6
      val sym = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val edges = sym.toDF("src", "dst")
      val got = graft.operators.Graphs
        .bfsHops(edges, edges.agg(min("src").as("s")), rounds)
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      // brute force: BFS from the min node over the adjacency map
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val s0 = sym.map(_._1).min
      var dist = Map(s0 -> 0L)
      var frontier = Set(s0)
      (1 to rounds).foreach { d =>
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
        dist ++= frontier.map(_ -> d.toLong)
      }
      val want = adj.keySet.map(n => n -> dist.get(n)).toMap
      assert(got == want, s"graph=$und")
    }
  }

  test("connected components match a union-find reference, Long and String ids") {
    // root = the component's smallest id: every union links the
    // larger root under the smaller one
    def unionFind(und: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      und.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    def pad(x: Long) = f"$x%04d"
    forSamples(graphGen, 6) { und =>
      val want = unionFind(und)
      val cc = graft.operators.Dedup.connectedComponents(und.toSeq.toDF("doc_a", "doc_b"))
      assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want, s"graph=$und")
      val padded = und.toSeq.map { case (a, b) => (pad(a), pad(b)) }.toDF("doc_a", "doc_b")
      val ccStr = graft.operators.Dedup.connectedComponents(padded)
      assert(ccStr.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
        want.map { case (k, v) => pad(k) -> pad(v) }, s"graph=$und")
    }
  }

  test("bounded pairs: Exact is within-key all-pairs, Cells a subset, Long and String ids") {
    import graft.operators.BoundedPairs
    import graft.operators.BoundedPairs.{Cells, Exact}
    // key 0 holds 6-12 rows, above the lowered hot threshold of 5, so
    // its pairs come from the shard-block join; keys 1..n stay cold
    val keyedGen: Gen[Seq[(Int, Long)]] = for {
      nk <- Gen.chooseNum(1, 4)
      sizes <- Gen.sequence[List[Int], Int](
        Gen.chooseNum(6, 12) +: List.fill(nk)(Gen.chooseNum(1, 5)))
      ids <- Gen.sequence[List[Seq[Long]], Seq[Long]](sizes.map(Gen.pick(_, 1L to 40L).map(_.toSeq)))
    } yield ids.zipWithIndex.flatMap { case (is, k) => is.map(k -> _) }
    def pad(x: Long) = f"$x%04d"
    type P = (Int, String, Long, Long, Long, Long)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[P] =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.get(2).toString.toLong,
        r.get(3).toString.toLong, r.getLong(4), r.getLong(5))).toSeq.sorted
    forSamples(keyedGen, 6) { rowsIn =>
      // two key columns and a carried column that names its own row
      val v = (k: Int, id: Long) => k * 1000L + id
      val want = rowsIn.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        rs.map(_._2).sorted.combinations(2).map { case Seq(a, b) =>
          (k / 2, s"h${k % 2}", a, b, v(k, a), v(k, b)) }
      }.sorted
      val largest = rowsIn.groupBy(_._1).values.map(_.size).max.toLong
      val frame = rowsIn.map { case (k, id) => (k / 2, s"h${k % 2}", id, v(k, id)) }
      for (df <- Seq(frame.toDF("g", "h", "id", "v"),
          frame.map { case (g, h, id, c) => (g, h, pad(id), c) }.toDF("g", "h", "id", "v"))) {
        def run(mode: BoundedPairs.Mode) = rows(BoundedPairs(df, Seq("g", "h"), "id", Seq("v"), mode))
        val exact = run(Exact(hotThreshold = 5, shards = 3))
        assert(exact == want, s"rows=$rowsIn")
        assert(run(Cells(largest)) == exact, s"rows=$rowsIn")
        val small = run(Cells(2))
        assert(small.distinct == small && small.toSet.subsetOf(exact.toSet), s"rows=$rowsIn")
      }
    }
  }

  test("deep iterative graph runs keep a bounded plan (lineage cut every k rounds)") {
    import graft.operators.{Fixpoint, Graphs}
    val n = 20L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val sym = path.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = sym.toDF("src", "dst")
    val iters = 12
    assert(iters > Fixpoint.CheckpointEvery, "test must cross the checkpoint cadence")
    val pr = Graphs.pageRankPpm(edges, iters)
    // past the cut, the optimized plan holds only the post-checkpoint
    // rounds — without truncation it would carry one logical Join per
    // round (the lookbehind skips physical *HashJoin text inside
    // InMemoryRelation dumps)
    val planStr = pr.queryExecution.optimizedPlan.toString
    val joins = "(?<![A-Za-z])Join\\b".r.findAllIn(planStr).size
    assert(joins <= Fixpoint.CheckpointEvery,
      s"pageRank lineage not truncated: $joins joins at $iters rounds")
    assert(planStr.contains("LogicalRDD"), "no checkpoint leaf in the deep plan")
    // integer brute force with the identical div/damping op order
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var ranks = adj.keySet.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s0, ds) <- adj; d <- ds) contrib(d) += ranks(s0) / deg(s0)
      ranks = adj.keySet.map(k => k -> (150000L + 85L * contrib(k) / 100L)).toMap
    }
    val got = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ranks)
    // deep BFS crosses the cut and stays correct on a known path graph
    val hops = Graphs.bfsHops(edges, edges.agg(min("src").as("s")), iters)
    val gotH = hops.collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val want = (0L until n).map(k => k -> (if (k <= iters) Some(k) else None)).toMap
    assert(gotH == want)
    // the converging loops run past the cadence too: components needs
    // 20 rounds on the path, and a path has no 2-core, which the peel
    // reaches at round 10 and confirms at round 11. Each of their
    // rounds is a checkpoint leaf whose lineage the convergence
    // action has cut; distinct joins in the analyzed plan count the
    // rounds since the last cut (a round's relation appears there
    // once per read)
    def lineage(x: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
      val p = x.queryExecution.analyzed
      (p.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.distinct.size,
        p.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.isCheckpointed
          case _ => false
        })
    }
    val cc = graft.operators.Dedup.connectedComponents(path.toDF("doc_a", "doc_b"))
    val core = Graphs.kCore(edges, 2, iters)
    for ((name, x) <- Seq("components" -> cc, "k-core" -> core)) {
      val (ccJoins, cut) = lineage(x)
      assert(cut && ccJoins <= Fixpoint.CheckpointEvery, s"$name: $ccJoins joins, cut=$cut")
    }
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == (0L until n).map(_ -> 0L).toMap)
    assert(core.isEmpty)
  }

  test("kmv set algebra is exact below k for random token sets") {
    import graft.operators.Sketches
    forSamples(Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0, 50).map(i => s"tok$i")).map(_.toSet),
      Gen.nonEmptyListOf(Gen.chooseNum(25, 75).map(i => s"tok$i")).map(_.toSet)), 5) {
      case (va, vb) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_kmvprop").toString
        Seq((1L, va.mkString(" "), "en", "srcA", 1L), (2L, vb.mkString(" "), "en", "srcB", 1L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val r = Sketches.q137KmvSetAlgebra.fn(spark, dir).collect()
        assert(r.length == 1)
        assert(r.head.getDouble(4) == (va ++ vb).size.toDouble)
        assert(r.head.getDouble(5) == (va & vb).size.toDouble)
    }
  }

  // --------------------------------------------------------------
  // Wide-integer cross terms at adversarial magnitudes (VERDICT r7
  // task 6): the DECIMAL(38,0) subtraction n*Sxy - Sx*Sy must stay
  // EXACT when squared sums blow far past 2^63 and products past
  // 10^30 — the regime where the old double-product form lost every
  // significant digit to cancellation. BigInt recomputation is the
  // independent referee; the double ops after the exact subtraction
  // are replayed in the same order, so equality is bitwise.
  // --------------------------------------------------------------

  /** Spark's Round(double, s): BigDecimal.valueOf + HALF_UP. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  private val hugeXyGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 25)
    mode <- Gen.oneOf(0, 1, 2)
    xs <- Gen.listOfN(n, Gen.chooseNum(-1000000000000000L, 1000000000000000L))
    ys <- Gen.listOfN(n, Gen.chooseNum(-1000000000000000L, 1000000000000000L))
  } yield mode match {
    case 0 => xs.zip(ys) // independent huge x, y
    case 1 => xs.map(x => (x, x)) // perfect correlation: r2 must hit 1
    case 2 => ys.map(y => (xs.head, y)) // constant x: b = 0, NULL slope
  }

  test("olsFitDf wide-integer cross terms are BigInt-exact at |x| up to 1e15") {
    var sawPast63 = false
    forSamples(hugeXyGen, 30) { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => ("g", i.toLong, x, y) }
        .toDF("k", "i", "x", "y")
      val got = graft.operators.AuditOps.olsFitDf(df, "k", "x", "y").collect().head
      val n = BigInt(pts.size)
      val sx = pts.map(p => BigInt(p._1)).sum
      val sy = pts.map(p => BigInt(p._2)).sum
      val sxx = pts.map(p => BigInt(p._1) * p._1).sum
      val syy = pts.map(p => BigInt(p._2) * p._2).sum
      val sxy = pts.map(p => BigInt(p._1) * p._2).sum
      if (sxx > BigInt(Long.MaxValue)) sawPast63 = true
      val a = (n * sxy - sx * sy).toDouble
      val b = (n * sxx - sx * sx).toDouble
      val c = (n * syy - sy * sy).toDouble
      assert(got.getLong(1) == pts.size)
      if (b == 0.0) {
        assert(got.isNullAt(2) && got.isNullAt(3) && got.isNullAt(4))
      } else {
        val slope = roundHalfUp(a / b, 6)
        val icept = roundHalfUp((sy.toDouble - a / b * sx.toDouble) / n.toDouble, 6)
        assert(got.getDouble(2) == slope, s"slope: ${got.getDouble(2)} != $slope")
        assert(got.getDouble(3) == icept, s"intercept: ${got.getDouble(3)} != $icept")
        if (c == 0.0) assert(got.isNullAt(4))
        else assert(got.getDouble(4) == roundHalfUp(a * a / (b * c), 6),
          s"r2 mismatch")
      }
    }
    assert(sawPast63, "generator never exceeded 2^63 - magnitudes too small")
  }

  /** Writes a synthetic one-user-per-key events.parquet with values
    * large enough that q = round(value*1e3) reaches ~1e15, and
    * returns (dir, per-user time-ordered q series). The q replay
    * applies the same double multiply + HALF_UP as Spark's Round, so
    * the recount sees bit-identical quantized longs.
    */
  private def writeHugeEvents(nUsers: Int, rowsPer: Int, seedBase: Long): (String, Map[Long, Seq[Long]]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_huge").toString
    val valGen = Gen.chooseNum(-1.0e12, 1.0e12)
    val rows = for {
      u <- 0 until nUsers
      i <- 0 until rowsPer
    } yield {
      val v = valGen(Gen.Parameters.default, Seed(seedBase + u * 1000 + i)).get
      (u * 1000L + i, (i.toLong + 1) * 1000000000L, u.toLong, v, "view")
    }
    rows.toDF("event_id", "ts", "user_id", "value", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val series = rows.groupBy(_._3).map { case (u, rs) =>
      u -> rs.sortBy(r => (r._2, r._1)).map(r =>
        roundHalfUp(r._4 * 1000.0, 0).toLong).toSeq
    }
    (dir, series)
  }

  test("q98 lag-1 Pearson r is BigInt-exact at quantized |x| ~ 1e15") {
    val (dir, series) = writeHugeEvents(nUsers = 4, rowsPer = 18, seedBase = 7000L)
    val got = graft.operators.PipelineOps.q98Autocorr.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.size == series.size)
    series.foreach { case (u, q) =>
      val pairs = q.zip(q.drop(1)).map { case (prev, cur) => (cur, prev) } // (x, lag y)
      val n = BigInt(pairs.size)
      val sx = pairs.map(p => BigInt(p._1)).sum
      val sy = pairs.map(p => BigInt(p._2)).sum
      val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
      val syy = pairs.map(p => BigInt(p._2) * p._2).sum
      val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
      assert(sxx > BigInt(Long.MaxValue), "fixture too small to stress the widening")
      val num = (n * sxy - sx * sy).toDouble
      val dx = (n * sxx - sx * sx).toDouble
      val dy = (n * syy - sy * sy).toDouble
      val expect = if (dx == 0.0 || dy == 0.0) None
        else Some(roundHalfUp(num / (math.sqrt(dx) * math.sqrt(dy)), 6))
      assert(got(u) == expect, s"user $u: ${got(u)} != $expect")
    }
  }

  test("q198 breakpoint SSE split is BigInt-exact at quantized |y| ~ 1e15") {
    val (dir, series) = writeHugeEvents(nUsers = 3, rowsPer = 14, seedBase = 9100L)
    val got = graft.operators.EventSeries.q198Breakpoint.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    series.foreach { case (u, q) =>
      val n = q.size
      val ys = q.map(BigInt(_))
      val is = (1 to n).map(BigInt(_))
      def cum(v: Seq[BigInt]): Seq[BigInt] = v.scanLeft(BigInt(0))(_ + _).drop(1)
      val csx = cum(is); val csy = cum(ys)
      val csxx = cum(is.map(x => x * x)); val csyy = cum(ys.map(y => y * y))
      val csxy = cum(is.zip(ys).map { case (x, y) => x * y })
      val (tx, ty, txx, tyy, txy) =
        (csx.last, csy.last, csxx.last, csyy.last, csxy.last)
      assert(tyy > BigInt(Long.MaxValue), "fixture too small to stress the widening")
      val cand = (2 to n - 2).map { i =>
        val bi = BigInt(i); val wr = BigInt(n) - bi
        val cl = (bi * csyy(i - 1) - csy(i - 1) * csy(i - 1)).toDouble
        val bl = (bi * csxx(i - 1) - csx(i - 1) * csx(i - 1)).toDouble
        val al = (bi * csxy(i - 1) - csx(i - 1) * csy(i - 1)).toDouble
        val cr = (wr * (tyy - csyy(i - 1)) - (ty - csy(i - 1)) * (ty - csy(i - 1))).toDouble
        val br = (wr * (txx - csxx(i - 1)) - (tx - csx(i - 1)) * (tx - csx(i - 1))).toDouble
        val ar = (wr * (txy - csxy(i - 1)) - (tx - csx(i - 1)) * (ty - csy(i - 1))).toDouble
        val sse = (cl * bl - al * al) / (i.toDouble * bl) +
          (cr * br - ar * ar) / (wr.toDouble * br)
        (i.toLong, sse)
      }
      val best = cand.minBy { case (i, sse) => (sse, i) }
      assert(got(u) == best, s"user $u: ${got(u)} != $best")
    }
  }
}
