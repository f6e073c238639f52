package graft

import graft.engine._
import graft.engine.Recipes.Op
import graft.operators.{Resample, SeriesOps, SignalKernels}
import graft.operators.SeriesOps.Series
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val s = Series(Seq("user_id"), "tn", Seq("event_id"))

  private def seriesDf(vals: Double*): DataFrame =
    vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, i.toDouble, v) }
      .toDF("user_id", "event_id", "tn", "value")

  private def vcol(d: DataFrame, c: String): Seq[Double] =
    d.orderBy("tn").select(col(c).cast("double")).collect().map(_.getDouble(0)).toSeq

  test("plugin directory discovery: scan, skip invalid, lookup, compile") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plugins")
    java.nio.file.Files.writeString(dir.resolve("double.json"),
      """{"name": "double_v", "operations": [
        |  {"type": "derived", "name": "v2", "expr": "value * 2"},
        |  {"type": "unknown_op"}]}""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("smooth.plugin"),
      """{"id": "smoother", "type": "filter", "filter": "moving_average",
        |  "channels": ["value"], "params": {"window": 3}}""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("broken.json"), "{not valid json")
    java.nio.file.Files.writeString(dir.resolve("readme.txt"), "not a plugin")

    val ps = Plugins.loadDirectory(dir.toString)
    assert(ps.size == 2) // broken + non-json skipped
    assert(Plugins.menuEntries(ps) == Seq("double_v", "smoother"))
    assert(Plugins.loadDirectory(dir.resolve("missing").toString).isEmpty)

    // single-op plugin body (main.py:803 `plugin.get("operations", [plugin])`)
    val sm = Plugins.get(ps, "smoother").get
    assert(sm.ops == Seq(Op.Filter("moving_average", Map("window" -> 3.0),
      Seq("value"), None)))

    // discovered pipeline replays through the one-job recipe path
    val out = Recipes.compile(spark, s,
      Plugins.get(ps, "double_v").get.ops)(seriesDf(1.0, 2.0, 3.0))
    assert(vcol(out, "v2") == Seq(2.0, 4.0, 6.0))
  }

  test("all 14 reference filters dispatch") {
    FilterEngine.availableFilters.foreach { name =>
      val spec = FilterSpec.fromParams(name, Map.empty)
      assert(spec.name == name)
    }
    assert(FilterEngine.availableFilters.size == 14)
  }

  test("reference filter-name aliases dispatch to the same specs") {
    assert(FilterSpec.fromParams("normalize_zscore", Map.empty) == FilterSpec.Zscore)
    assert(FilterSpec.fromParams("normalize_percent", Map.empty) == FilterSpec.PercentNormalize)
    assert(FilterSpec.fromParams("abs", Map.empty) == FilterSpec.Absolute)
  }

  test("reference dialect params map to Hz specs; target_fs maps to step") {
    // filter_engine.py:115-118: Hz params stay Hz; normalization
    // happens per series at execution
    assert(FilterSpec.fromParams("butter_lowpass", Map("cutoff" -> 6.0, "order" -> 2.0))
      == FilterSpec.ButterLowpassHz(6.0, 2))
    // reference default order=2 applies in the Hz dialect
    assert(FilterSpec.fromParams("butter_lowpass", Map("cutoff" -> 6.0))
      == FilterSpec.ButterLowpassHz(6.0, 2))
    // graft dialect unchanged
    assert(FilterSpec.fromParams("butter_lowpass", Map("cutoff_wn" -> 0.3))
      == FilterSpec.ButterLowpass(0.3, 4))
    assert(FilterSpec.fromParams("butter_bandpass", Map("low_cut" -> 0.5, "high_cut" -> 10.0))
      == FilterSpec.ButterBandpassHz(0.5, 10.0, 2))
    // filter_engine.py:80-84: resample to target_fs → grid step 1/target_fs
    assert(FilterSpec.fromParams("resample", Map("target_fs" -> 50.0))
      == FilterSpec.ResampleTo(1.0 / 50.0))
  }

  test("unrecognized numeric params throw instead of silently defaulting") {
    val e = intercept[IllegalArgumentException] {
      FilterSpec.fromParams("butter_lowpass", Map("cutof" -> 6.0))
    }
    assert(e.getMessage.contains("cutof"))
    intercept[IllegalArgumentException] {
      FilterSpec.fromParams("moving_average", Map("step" -> 1.0))
    }
    // mixing normalized-Wn and Hz params in one filter is ambiguous
    intercept[IllegalArgumentException] {
      FilterSpec.fromParams("butter_bandpass", Map("low_wn" -> 0.1, "high_cut" -> 10.0))
    }
  }

  test("verbatim reference recipe JSON replays with the user's Hz params, not defaults") {
    // the reference's saved-recipe wire shape with a Hz-valued cutoff:
    // replay must equal the Wn kernel parameterized with the rate the
    // reference would infer from this axis (dt=0.1 → fs=10), bit-equal
    val refJson =
      """{"operations": [
        |  {"description": "filter",
        |   "params": {"channels": ["value"], "filter_type": "butter_lowpass",
        |              "cutoff": 1.5, "order": 2, "apply_selection": false},
        |   "start": 0.0, "end": 100.0}]}""".stripMargin
    val d = (0 until 64).map(i => (1L, i.toLong, i * 0.1, math.sin(i * 0.7) + 0.1 * i))
      .toDF("user_id", "event_id", "tn", "value")
    val replayed = Recipes.compile(spark, s, Recipes.fromJson(refJson))(d)
    val direct = FilterEngine.apply(spark, d, s, Seq("value"),
      FilterSpec.ButterLowpass(1.5 / (0.5 * 10.0), 2))
    assert(vcol(replayed, "value") == vcol(direct, "value"))
  }

  test("reference integrate replays with dt = 1/fs, not a silent 1.0") {
    // dt=0.1 axis → fs=10 → dt=1/10; cumsum([1,2,3]) * 0.1
    val d = Seq((1L, 0L, 0.0, 1.0), (1L, 1L, 0.1, 2.0), (1L, 2L, 0.2, 3.0))
      .toDF("user_id", "event_id", "tn", "value")
    val spec = FilterSpec.fromParams("integrate", Map.empty)
    assert(spec == FilterSpec.IntegrateAuto)
    val out = FilterEngine.apply(spark, d, s, Seq("value"), spec)
    assert(vcol(out, "value").zip(Seq(0.1, 0.3, 0.6))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // explicit dt stays the graft dialect
    assert(FilterSpec.fromParams("integrate", Map("dt" -> 0.5)) == FilterSpec.Integrate(0.5))
    // step + target_fs together is ambiguous
    intercept[IllegalArgumentException] {
      FilterSpec.fromParams("resample", Map("step" -> 2.0, "target_fs" -> 50.0))
    }
  }

  test("Hz recipe over a mixed-rate multi-trial frame uses each trial's own rate") {
    // trial 1 at 10 Hz, trial 2 at 20 Hz, one replay job: each series
    // must match the Wn kernel converted with ITS rate
    val mixed = ((0 until 64).map(i => (1L, i.toLong, i * 0.1, math.sin(i * 0.5))) ++
      (0 until 64).map(i => (2L, i.toLong, i * 0.05, math.cos(i * 0.3))))
      .toDF("user_id", "event_id", "tn", "value")
    val replayed = FilterEngine.apply(spark, mixed, s, Seq("value"),
      FilterSpec.ButterLowpassHz(1.5, 2))
    def one(uid: Long, fs: Double) = {
      val d = mixed.filter(col("user_id") === uid)
      FilterEngine.apply(spark, d, s, Seq("value"),
        FilterSpec.ButterLowpass(1.5 / (0.5 * fs), 2))
    }
    val got1 = vcol(replayed.filter(col("user_id") === 1L), "value")
    val got2 = vcol(replayed.filter(col("user_id") === 2L), "value")
    assert(got1 == vcol(one(1L, 10.0), "value"))
    assert(got2 == vcol(one(2L, 20.0), "value"))
    assert(got1 != got2)
  }

  test("selection scoping: identity outside, windows confined inside") {
    val d = seriesDf(1, 2, 3, 10, 20, 30)
    val r = FilterEngine.apply(spark, d, s, Seq("value"),
      FilterSpec.MovingAverage(3), selection = Some((3.0, 5.0)))
    // outside [3,5]: untouched; inside: centered mean over ONLY rows 3..5
    assert(vcol(r, "value") == Seq(1.0, 2.0, 3.0, 15.0, 20.0, 25.0))
  }

  test("pd.eval dialect shim: **, ~, True/False translate to Spark SQL") {
    assert(Plugins.translateExpr("a ** 2") == "pow(a, 2)")
    assert(Plugins.translateExpr("a**b**c") == "pow(a, pow(b, c))")
    assert(Plugins.translateExpr("(x + y) ** 0.5") == "pow((x + y), 0.5)")
    assert(Plugins.translateExpr("abs(v) ** 2 + 1") == "pow(abs(v), 2) + 1")
    assert(Plugins.translateExpr("v ** -2") == "pow(v, -2)")
    // ~ passes through untouched: Spark's integral bitwise-not matches
    // pd.eval; a boolean ~ fails analysis loudly rather than being
    // blindly rewritten (which would corrupt the integer case)
    assert(Plugins.translateExpr("~flags and True") == "~flags and true")
    // signed-exponent scientific notation on either side of **
    assert(Plugins.translateExpr("x ** 1e-3") == "pow(x, 1e-3)")
    assert(Plugins.translateExpr("1e-3 ** x") == "pow(1e-3, x)")
    // ...but an identifier ending in e stays a subtraction
    assert(Plugins.translateExpr("y2e-3 ** x") == "y2e-pow(3, x)")
    // double-quoted literals are data too
    assert(Plugins.translateExpr("concat(s, \"2**3\")") == "concat(s, \"2**3\")")
    // a user identifier that happens to look like a mask placeholder
    // passes through rather than crashing the restore
    assert(Plugins.translateExpr("x + __strlit_0__") == "x + __strlit_0__")
    // backslash-escaped quote (Spark's default literal syntax): the
    // escaped quote must not close the mask early — the ** and True
    // inside the literal are data, and code AFTER it still translates
    assert(Plugins.translateExpr("concat(s, 'it\\'s 2**3 True') ** 2") ==
      "pow(concat(s, 'it\\'s 2**3 True'), 2)")
    assert(Plugins.translateExpr("\"a\\\"b**c\" ** n") == "pow(\"a\\\"b**c\", n)")
    assert(Plugins.translateExpr("__strlit_99999999999__ ** 2")
      == "pow(__strlit_99999999999__, 2)")
    // pass-through: already-valid Spark SQL is untouched
    assert(Plugins.translateExpr("value * 2 + 1") == "value * 2 + 1")
    // string literals are DATA, never rewritten (incl. '' escapes)
    assert(Plugins.translateExpr("concat(s, '2**3 ~ True')") == "concat(s, '2**3 ~ True')")
    assert(Plugins.translateExpr("x ** 2 + length('it''s ~ **')") ==
      "pow(x, 2) + length('it''s ~ **')")
    // a literal inside a ** operand scans as one operand
    assert(Plugins.translateExpr("length('ab') ** 2") == "pow(length('ab'), 2)")

    // end-to-end: a verbatim pd.eval-dialect derived op replays
    val out = Recipes.compile(spark, s, Seq(
      Op.Derived("e", "value ** 2 + 1")))(seriesDf(1.0, 2.0, 3.0))
    assert(vcol(out, "e") == Seq(2.0, 5.0, 10.0))
  }

  test("recipe JSON roundtrip") {
    val ops = Seq(
      Op.Derived("v2", "value * 2"),
      Op.Filter("moving_average", Map("window" -> 5.0), Seq("v2"), Some((1.0, 2.0))),
      Op.DeleteSegment(0.5, 1.5),
      Op.MarkBad(2.0, 3.0))
    assert(Recipes.fromJson(Recipes.toJson(ops)) == ops)
  }

  test("recipe compile = manual chain") {
    val d = seriesDf(-1, 2, -3)
    val replay = Recipes.compile(spark, s, Seq(
      Op.Derived("v2", "value * 2.0"),
      Op.Filter("absolute", Map.empty, Seq("v2"), None)))
    assert(vcol(replay(d), "v2") == Seq(2.0, 4.0, 6.0))
  }

  test("session undo/redo with O(1) immutable snapshots") {
    val sess = new Session(s, EngineState(seriesDf(1, 2, 3, 4)))
    assert(!sess.canUndo && !sess.canRedo)
    sess.deleteSegment(0.5, 1.5)
    sess.markBad(2.0, 2.0)
    assert(sess.state.history.map(_.description) == Vector("delete_segment", "mark_bad"))
    assert(sess.undo() && sess.state.history.map(_.description) == Vector("delete_segment"))
    assert(sess.canRedo && sess.redo())
    assert(sess.state.deletions == Vector((0.5, 1.5)))
    sess.undo(); sess.deleteSegment(2.5, 3.5) // new mutation clears redo
    assert(!sess.canRedo)
  }

  private def rows(d: DataFrame): Seq[org.apache.spark.sql.Row] =
    d.orderBy("user_id", "event_id").collect().toSeq

  private def planNodes(d: DataFrame): Int =
    d.queryExecution.optimizedPlan.collect { case n => n }.size

  private def sessionDf: DataFrame = seriesDf((0 until 40).map(i => math.sin(i * 0.3)): _*)

  test("session edits are materialized and equal the unmaterialized fold") {
    val base = sessionDf
    val sess = new Session(s, EngineState(base))
    val afterDelete = SeriesOps.deleteCollapse(base, s, 5.5, 9.5)
    val afterBad = SeriesOps.markBad(afterDelete, s, 12.0, 15.0)
    val expected = SeriesOps.deleteCollapse(afterBad, s, 20.5, 24.5)

    sess.deleteSegment(5.5, 9.5)
    assert(rows(sess.state.df) == rows(afterDelete))
    sess.markBad(12.0, 15.0)
    assert(rows(sess.state.df) == rows(afterBad))
    sess.annotate(Annotation(1.0, 2.0, "note"))
    assert(sess.undo() && sess.state.annotations.isEmpty)
    assert(sess.redo() && sess.state.annotations.map(_.label) == Vector("note"))
    sess.deleteSegment(20.5, 24.5)
    assert(rows(sess.state.df) == rows(expected))
    // every data-changing state is cut from its lineage: one RDD leaf
    assert(planNodes(sess.state.df) == 1)
    assert(sess.undo() && rows(sess.state.df) == rows(afterBad))
  }

  test("session render plans do not grow with edit depth") {
    val sess = new Session(s, EngineState(sessionDf))
    val render = (d: DataFrame) => d.filter(col("tn").between(2.0, 8.0)).select("tn", "value")
    val sizes = (1 to 8).map { i =>
      if (i % 2 == 1) sess.deleteSegment(30.5 - i, 31.5 - i) else sess.markBad(i, i + 0.5)
      val r = render(sess.state.df)
      r.collect()
      planNodes(r)
    }
    assert(sizes.forall(_ <= sizes.head), s"plan nodes per depth: $sizes")
    // the same edits folded lazily grow by several nodes per edit
    val folded = (1 to 8).foldLeft(sessionDf) { (d, i) =>
      if (i % 2 == 1) SeriesOps.deleteCollapse(d, s, 30.5 - i, 31.5 - i)
      else SeriesOps.markBad(d, s, i, i + 0.5)
    }
    assert(planNodes(render(folded)) > sizes.last)
  }

  test("a new mutation releases dropped states except frames still shared by annotate") {
    val sc = spark.sparkContext
    def rddId(d: DataFrame): Int =
      org.apache.spark.sql.GraftExpressionBridge.checkpointedRddId(d).get
    val sess = new Session(s, EngineState(sessionDf))
    sess.deleteSegment(5.5, 9.5)
    val shared = sess.state.df
    val sharedRows = rows(shared)
    sess.annotate(Annotation(1.0, 2.0, "note")) // same frame as the undo entry
    assert(sess.state.df eq shared)
    assert(sess.undo())
    sess.markBad(12.0, 15.0) // drops the annotate state, whose frame is shared
    assert(sc.getPersistentRDDs.contains(rddId(shared)))
    val marked = sess.state.df
    rows(marked)
    assert(sess.undo())
    assert(rows(sess.state.df) == sharedRows)
    sess.deleteSegment(20.5, 24.5) // drops the mark_bad state
    assert(!sc.getPersistentRDDs.contains(rddId(marked)))
    assert(sc.getPersistentRDDs.contains(rddId(shared)))
    assert(sess.undo() && rows(sess.state.df) == sharedRows)
  }

  test("annotationAt tie-break: non-episode track, then shortest") {
    val sess = new Session(s, EngineState(seriesDf(1)))
    sess.annotate(Annotation(0, 10, "long", track = "notes"))
    sess.annotate(Annotation(2, 4, "short", track = "notes"))
    sess.annotate(Annotation(0, 3, "ep", track = "episode"))
    assert(sess.annotationAt(2.5).map(_.label).contains("short"))
    assert(sess.annotationAt(0.5).map(_.label).contains("long"))
    assert(sess.annotationAt(20).isEmpty)
  }

  test("butterworth kernel: constant series passes, bandpass kills DC") {
    val d = seriesDf(Seq.fill(40)(5.5): _*)
    val lp = SignalKernels.butterLowpass(spark, d, s, "value", "filtered", 4, 0.25)
    vcol(lp, "filtered").foreach(v => assert(math.abs(v - 5.5) < 1e-9))
    val bp = SignalKernels.butterBandpass(spark, d, s, "value", "filtered", 2, 0.1, 0.6)
    vcol(bp, "filtered").foreach(v => assert(math.abs(v) < 1e-9))
  }

  test("savgol exact kernel reproduces a quadratic including edges") {
    val d = seriesDf((0 until 20).map(i => 0.5 * i * i - 2 * i + 3.0): _*)
    val r = SignalKernels.savgolExact(spark, d, s, "value", "filtered", 7, 2)
    vcol(r, "filtered").zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - (0.5 * i * i - 2 * i + 3.0)) < 1e-7, s"i=$i")
    }
  }

  test("filter engine kernel dispatch joins filtered channel back") {
    val d = seriesDf(1, 1, 1, 1, 1, 1)
    val r = FilterEngine.apply(spark, d, s, Seq("value"), FilterSpec.ButterLowpass(0.3, 2))
    assert(r.count() == 6)
    vcol(r, "value").foreach(v => assert(math.abs(v - 1.0) < 1e-9))
  }

  test("kernels work on a key-less single-trial series (API path)") {
    import spark.implicits._
    val d = (0 until 30).map(i => (i / 10.0, 2.5)).toDF("normalized_time", "ch")
    val keyless = Series(Nil, "normalized_time")
    val r = FilterEngine.apply(spark, d, keyless, Seq("ch"), FilterSpec.ButterLowpass(0.3, 2))
    assert(r.count() == 30)
    r.select("ch").collect().map(_.getDouble(0))
      .foreach(v => assert(math.abs(v - 2.5) < 1e-9))
  }

  test("interpolate methods: nearest picks closer bracket, cubic hits knots") {
    import spark.implicits._
    val d = Seq((1L, 0L, 0.0, Some(1.0)), (1L, 1L, 1.0, None),
      (1L, 2L, 4.0, Some(4.0)), (1L, 3L, 6.0, None), (1L, 4L, 8.0, Some(2.0)))
      .toDF("user_id", "event_id", "tn", "value")
    val near = SeriesOps.interpolate(d, s, "nearest", Seq("value" -> "o"))
      .orderBy("tn").select("o").collect().map(_.getDouble(0)).toSeq
    assert(near == Seq(1.0, 1.0, 4.0, 4.0, 2.0)) // tn=1 closer to 0; tn=6 tie->earlier
    // cubic on exactly-linear knots reproduces the line at gaps
    val lin = Seq((1L, 0L, 0.0, Some(0.0)), (1L, 1L, 1.0, None),
      (1L, 2L, 2.0, Some(4.0)), (1L, 3L, 3.0, None), (1L, 4L, 4.0, Some(8.0)))
      .toDF("user_id", "event_id", "tn", "value")
    val cub = SignalKernels.interpolateCubic(spark, lin, s, "value", "o")
      .orderBy("tn").select("o").collect().map(_.getDouble(0)).toSeq
    cub.zip(Seq(0.0, 2.0, 4.0, 6.0, 8.0)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$cub")
    }
    // recipe-level dispatch with string method param
    val viaRecipe = Recipes.compile(spark, s, Recipes.fromJson(
      """[{"type":"filter","filter":"interpolate",
        |"params":{"method":"cubic"},"channels":["value"]}]""".stripMargin))(lin)
      .orderBy("tn").select("value").collect().map(_.getDouble(0)).toSeq
    assert(viaRecipe == cub)
  }

  test("quadratic spline reproduces a parabola at gaps; zero holds previous; unknown throws") {
    import spark.implicits._
    // parabola y = 0.5 t² − 2t + 3 sampled at integer knots with gaps
    def py(t: Double) = 0.5 * t * t - 2.0 * t + 3.0
    val d = (0 until 10).map { i =>
      val t = i.toDouble
      (1L, i.toLong, t, if (i % 3 == 1) None else Some(py(t)))
    }.toDF("user_id", "event_id", "tn", "value")
    val quad = SignalKernels.interpolateQuadratic(spark, d, s, "value", "o")
      .orderBy("tn").select("o").collect().map(_.getDouble(0)).toSeq
    quad.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - py(i.toDouble)) < 1e-9, s"i=$i got $v")
    }
    // zero-order hold: interior nulls take the previous value,
    // leading nulls clamp forward
    val z = Seq((1L, 0L, 0.0, None), (1L, 1L, 1.0, Some(7.0)), (1L, 2L, 2.0, None),
      (1L, 3L, 3.0, Some(9.0)), (1L, 4L, 4.0, None))
      .toDF("user_id", "event_id", "tn", "value")
    val zr = SeriesOps.interpolate(z, s, "zero", Seq("value" -> "o"))
      .orderBy("tn").select("o").collect().map(_.getDouble(0)).toSeq
    assert(zr == Seq(7.0, 7.0, 7.0, 9.0, 9.0))
    // slinear dispatches to the linear path (first-order spline ≡
    // linear on the axis), not to a fallback
    val lin = FilterEngine.apply(spark, z, s, Seq("value"), FilterSpec.Interpolate("linear"))
    val sli = FilterEngine.apply(spark, z, s, Seq("value"), FilterSpec.Interpolate("slinear"))
    assert(vcol(lin, "value") == vcol(sli, "value"))
    // unknown methods fail loudly instead of silently interpolating
    val e = intercept[IllegalArgumentException] {
      FilterEngine.apply(spark, z, s, Seq("value"), FilterSpec.Interpolate("akima")).collect()
    }
    assert(e.getMessage.contains("akima"))
  }

  test("bare Butterworth in the reference wire shape gets reference defaults") {
    val ops = Recipes.fromJson(
      """{"operations": [
        |  {"description": "filter",
        |   "params": {"channels": ["value"], "filter_type": "butter_lowpass"}},
        |  {"description": "filter",
        |   "params": {"channels": ["value"], "filter_type": "butter_bandpass"}}
        |]}""".stripMargin)
    val specs = ops.collect { case Op.Filter(n, p, _, _, sp) => FilterSpec.fromParams(n, p, sp) }
    assert(specs == Seq(FilterSpec.ButterLowpassHz(6.0, 2), FilterSpec.ButterBandpassHz(0.5, 10.0, 2)))
  }

  test("bare resample defaults to the trial's inferred rate, not a 1 Hz grid") {
    import spark.implicits._
    // reference filter_engine.py:80-84: target_fs defaults to
    // self.sample_rate — a hand-authored {"filter": "resample"} recipe
    // must regrid at the trial's own rate
    assert(FilterSpec.fromParams("resample", Map.empty, Map.empty) == FilterSpec.ResampleAuto)
    // 10 Hz trial: ResampleAuto ≡ explicit target_fs = 10
    val d = (0 until 40).map(i => (1L, i.toLong, i * 0.1, math.sin(i * 0.3)))
      .toDF("user_id", "event_id", "tn", "value")
    val auto = FilterEngine.apply(spark, d, s, Seq("value"), FilterSpec.ResampleAuto)
    val explicit = FilterEngine.apply(spark, d, s, Seq("value"), FilterSpec.ResampleTo(0.1))
    assert(auto.orderBy("tn").collect().toSeq == explicit.orderBy("tn").collect().toSeq)
  }

  private def channelsDf: DataFrame =
    (for (u <- 1L to 2L; i <- 0 until 30)
      yield (u, i.toLong, i * 0.1 * u + (if (i % 7 == 3) 0.03 else 0.0),
        math.sin(i * 0.4 * u), math.cos(i * 0.2) * 3 + u, if (i % 5 == 2) None else Some(i * 0.5)))
      .toDF("user_id", "event_id", "tn", "a", "b", "c")

  test("multi-channel savgol is one projection, equal to the per-channel fold") {
    val d = channelsDf
    def fold(chs: Seq[String]) =
      chs.foldLeft(d)((acc, ch) => SeriesOps.savgolInterior(acc, s, ch, ch, 7, 2))
    def windows(x: DataFrame) = x.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    val fused = FilterEngine.apply(spark, d, s, Seq("a", "b", "c"), FilterSpec.Savgol(7, 2))
    assert(fused.columns.toSeq == d.columns.toSeq)
    assert(windows(fused) == 2)
    assert(fused.exceptAll(fold(Seq("a", "b", "c"))).isEmpty)
    assert(fold(Seq("a", "b", "c")).exceptAll(fused).isEmpty)
    // a repeated channel is smoothed again, as the fold does
    val dup = FilterEngine.apply(spark, d, s, Seq("a", "b", "a"), FilterSpec.Savgol(7, 2))
    assert(rows(dup) == rows(fold(Seq("a", "b", "a"))))
    assert(rows(dup) != rows(fused))
  }

  /** Shuffle exchanges of the executed plan, inside AQE stages too. */
  private def shuffles(d: DataFrame): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten
    d.collect()
    walk(d.queryExecution.executedPlan)
  }

  test("key-less series windows run without a shuffle; keyed ones keep the hash exchange") {
    val keyed = channelsDf.filter(col("user_id") === 1L)
    val one = keyed.drop("user_id")
    val keyless = Series(Nil, "tn", Seq("event_id"))
    val del = SeriesOps.deleteCollapse(one, keyless, 0.85, 1.45)
    assert(shuffles(del).isEmpty)
    val viaKey = SeriesOps.deleteCollapse(keyed, s, 0.85, 1.45)
    val viaKeyRows = viaKey.drop("user_id")
    assert(del.exceptAll(viaKeyRows).isEmpty && viaKeyRows.exceptAll(del).isEmpty)
    assert(shuffles(viaKey).exists(
      _.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]))
    assert(shuffles(SeriesOps.savgolChannels(one, keyless, Seq("a" -> "a", "b" -> "b"), 7, 2)).isEmpty)
    assert(graft.sources.TrialReader.inferSampleRate(one, "tn") == 10.0)
  }

  test("multi-channel resample shares one grid and equals each channel alone") {
    val d = channelsDf
    val grid = Seq("user_id", "tn")
    val both = FilterEngine.apply(spark, d, s, Seq("a", "c"), FilterSpec.ResampleTo(0.25))
    assert(both.columns.toSeq == Seq("user_id", "tn", "a", "c"))
    val alone = Seq("a", "c")
      .map(ch => FilterEngine.apply(spark, d, s, Seq(ch), FilterSpec.ResampleTo(0.25)))
      .reduceLeft(_.join(_, grid))
    def sorted(x: DataFrame) = x.orderBy(grid.map(col): _*).collect().toSeq
    assert(sorted(both) == sorted(alone) && sorted(both).nonEmpty)
    val auto = FilterEngine.apply(spark, d.filter(col("user_id") === 1L), s, Seq("a", "b"),
      FilterSpec.ResampleAuto)
    assert(auto.columns.toSeq == Seq("user_id", "tn", "a", "b"))
    // every interpolation and resample runs on running frames: no
    // optimized plan holds a frame that ends at the series' end (a
    // `first` over [current, end] re-aggregates per row, O(n²)), and
    // the Window count does not grow with the channel count
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
    def plan(x: DataFrame) = x.queryExecution.optimizedPlan
    def toEnd(x: DataFrame) = plan(x).flatMap(_.expressions.flatMap(_.collect {
      case f: SpecifiedWindowFrame if f.upper == UnboundedFollowing => f
    }))
    def windows(x: DataFrame) = plan(x).collect { case w: WindowNode => w }.size
    val one = Resample.resampleFrame(d, s, Seq("a"), Nil, Nil, 0.25)
    val three = Resample.resampleFrame(d, s, Seq("a", "b", "c"), Nil, Nil, 0.25)
    val probes = d.select(col("user_id"), (col("tn") + 0.05).as("tn"))
    val interps = Seq("zero", "nearest", "linear")
      .map(m => SeriesOps.interpolate(d, s, m, Seq("a" -> "a", "c" -> "o")))
    (interps ++ Seq(one, three, both, Resample.interpolateAt(d, probes, s, "c", "o")))
      .foreach(x => assert(toEnd(x).isEmpty, plan(x)))
    assert(windows(one) == windows(three) && windows(one) == 2)
    interps.foreach(x => assert(windows(x) == 2))
    // a whole-series interpolation fills every channel in that one
    // bracket pass, equal to the per-channel fold (a repeated channel
    // fills once: filling a filled channel changes nothing)
    val gappy = d.withColumn("a", when(col("event_id") % 4 === 1, lit(null)).otherwise(col("a")))
      .withColumn("b", when(col("event_id") % 3 === 0, lit(null)).otherwise(col("b")))
    val chs = Seq("a", "c", "b", "c")
    Seq("zero", "nearest", "linear", "slinear").foreach { m =>
      val fused = FilterEngine.apply(spark, gappy, s, chs, FilterSpec.Interpolate(m))
      val fold = chs.foldLeft(gappy)((acc, ch) =>
        FilterEngine.apply(spark, acc, s, Seq(ch), FilterSpec.Interpolate(m)))
      assert(windows(fused) == 2, m)
      assert(fused.exceptAll(fold).isEmpty && fold.exceptAll(fused).isEmpty, m)
    }
    // a scoped resample is a named error, not an unresolved column
    val e = intercept[IllegalArgumentException] {
      FilterEngine.apply(spark, d, s, Seq("a"), FilterSpec.ResampleTo(0.25), Some((0.5, 1.5)))
    }
    assert(e.getMessage.contains("selection"))
  }

  test("reference-shaped recipe wire format parses and replays") {
    val refJson =
      """{"operations": [
        |  {"description": "filter",
        |   "params": {"channels": ["value"], "filter_type": "moving_average",
        |              "window": 3, "preset": "smooth", "apply_selection": false},
        |   "start": 0.0, "end": 22.356},
        |  {"description": "derived:v2", "params": {"expr": "value * 2"}},
        |  {"description": "delete_segment", "start": 0.5, "end": 1.5}
        |]}""".stripMargin
    val ops = Recipes.fromJson(refJson)
    assert(ops == Seq(
      Op.Filter("moving_average", Map("window" -> 3.0), Seq("value"), None),
      Op.Derived("v2", "value * 2"),
      Op.DeleteSegment(0.5, 1.5)))
    val replayed = Recipes.compile(spark, s, ops)(seriesDf(1, 2, 3, 4))
    assert(replayed.count() == 3) // tn 0,1,2,3 minus deleted [0.5,1.5]
  }
}
