package graft

import graft.engine.{Annotation, OpRecord}
import graft.sources.{AnnotationStore, Checkpoints, ProjectCatalog, TrialReader}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def writeCsv(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-test")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("csv load normalizes blank/nan strings to null") {
    val p = writeCsv("t1.csv",
      """normalized_time,ch,label
        |0.0,1.5,a
        |0.1,nan,
        |0.2,NaN,b
        |0.3,2.5,a
        |""".stripMargin)
    val df = TrialReader.loadCsv(spark, p)
    assert(df.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("normalized_time" -> "double", "ch" -> "double", "label" -> "string"))
    assert(df.count() == 4)
    assert(df.filter(df("ch").isNull).count() == 2)
    assert(df.filter(df("label").isNull).count() == 1)
  }

  test("classification: time preference, numeric vs metadata split") {
    val p = writeCsv("t2.csv",
      """lsl_time,normalized_time,gaze_heading_deg,participant_id
        |10.0,0.0,1.0,P1
        |""".stripMargin)
    val sch = TrialReader.classify(TrialReader.loadCsv(spark, p))
    assert(sch.timeCol.contains("normalized_time"))
    assert(sch.signalCols.toSet == Set("lsl_time", "gaze_heading_deg"))
    assert(sch.metadataCols == Seq("participant_id"))
  }

  test("time fabrication when no time column exists") {
    val p = writeCsv("t3.csv", "ch\n5\n6\n7\n")
    val df = TrialReader.loadCsv(spark, p)
    val sch = TrialReader.classify(df)
    assert(sch.timeCol.isEmpty)
    val fixed = TrialReader.ensureBadMaskAndTime(df, sch, None, fallbackFs = 10.0)
    assert(fixed.columns.contains("is_bad_segment"))
    val ts = fixed.orderBy("normalized_time").select("normalized_time")
      .collect().map(_.getDouble(0)).toSeq
    assert(ts == Seq(0.0, 0.1, 0.2))
  }

  test("sample-rate inference: 1/median positive dt, rounded") {
    import spark.implicits._
    val df = Seq(0.0, 1.0 / 120, 2.0 / 120, 3.0 / 120, 3.0 / 120, 4.0 / 120)
      .toDF("normalized_time")
    assert(TrialReader.inferSampleRate(df, "normalized_time") == 120.0)
    assert(TrialReader.inferSampleRate(
      Seq.empty[Double].toDF("normalized_time"), "normalized_time") == 120.0)
    assert(TrialReader.inferSampleRate(
      Seq(0.5).toDF("normalized_time"), "normalized_time") == 120.0)
  }

  test("multi-trial batch infers a rate PER trial, not one global median") {
    import spark.implicits._
    // trial a at 120 Hz, trial b at 60 Hz — a single pooled median
    // would report one wrong rate for both (reference infers per file,
    // data_model.py:116-126)
    val df = ((0 to 4).map(i => ("a", i / 120.0)) ++
      (0 to 4).map(i => ("b", i / 60.0))).toDF("trial_id", "normalized_time")
    val rates = TrialReader.inferSampleRates(df, "normalized_time", "trial_id")
      .orderBy("trial_id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toList
    assert(rates == List("a" -> 120.0, "b" -> 60.0))
  }

  test("channel grouping heuristics, first match wins") {
    val g = TrialReader.channelGroups(Seq(
      "gaze_heading_deg", "head_heading_deg", "left_foot_heading_deg",
      "bearing_to_screen", "pos_x", "mystery"))
    assert(g("Gaze") == Seq("gaze_heading_deg"))
    assert(g("Head") == Seq("head_heading_deg"))
    assert(g("Feet") == Seq("left_foot_heading_deg"))
    assert(g("Screen") == Seq("bearing_to_screen"))
    assert(g("Position") == Seq("pos_x"))
    assert(g("Other") == Seq("mystery"))
  }

  test("annotation json roundtrip + legacy pair deletions") {
    val dir = Files.createTempDirectory("graft-ann")
    val p = dir.resolve("ann.json").toString
    val meta = AnnotationStore.SessionMeta(
      Vector(Annotation(1.0, 2.0, "blink", "gaze", "#fff", 3L)),
      Vector((0.5, 0.9)),
      Vector(OpRecord("delete_segment", Map("start" -> "0.5"), 0.5, 0.9)),
      119.99)
    AnnotationStore.write(p, meta)
    assert(AnnotationStore.read(p) == meta)
    // tolerant legacy parse: deletions as bare [start, end] pairs
    val legacy = dir.resolve("legacy.json").toString
    Files.writeString(java.nio.file.Paths.get(legacy),
      """{"annotations":[{"start":0,"end":1,"label":"x"}],
        |"deletions":[[1.5, 2.5]],"sample_rate":60}""".stripMargin)
    val r = AnnotationStore.read(legacy)
    assert(r.deletions == Vector((1.5, 2.5)))
    assert(r.annotations.head.track == "default")
    assert(r.sampleRate == 60.0)
  }

  test("multi-trial overlay read stacks files with trial_id") {
    val a = writeCsv("trialA.csv", "normalized_time,ch\n0.0,1\n0.1,2\n")
    val b = writeCsv("trialB.csv", "normalized_time,ch\n0.0,3\n")
    val df = TrialReader.loadTrials(spark, Seq(a, b))
    assert(df.count() == 3)
    assert(df.select("trial_id").distinct().count() == 2)
  }

  test("project catalog json roundtrip") {
    val dir = Files.createTempDirectory("graft-proj")
    val path = dir.resolve("project.json").toString
    val p = ProjectCatalog.Project(
      trials = Vector(ProjectCatalog.TrialEntry("/data/t1.csv", "P1", "Stand", "clean")),
      recipes = Map("smooth" -> """[{"type":"derived","name":"x2","expr":"x*2"}]"""),
      preferences = Map("theme" -> "dark"))
    ProjectCatalog.write(path, p)
    val r = ProjectCatalog.read(path)
    assert(r.trials == p.trials)
    assert(r.preferences == p.preferences)
    assert(graft.engine.Recipes.fromJson(r.recipes("smooth")) ==
      graft.engine.Recipes.fromJson(p.recipes("smooth")))
  }

  test("versioned checkpoints: save increments, latest restores") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt").toString + "/snap"
    assert(Checkpoints.loadLatest(spark, root).isEmpty)
    val v1 = Checkpoints.save(spark, Seq((1, "a")).toDF("id", "s"), root)
    val v2 = Checkpoints.save(spark, Seq((1, "a"), (2, "b")).toDF("id", "s"), root)
    assert((v1, v2) == (1, 2))
    assert(Checkpoints.versions(spark, root) == Seq(1, 2))
    assert(Checkpoints.loadLatest(spark, root).get.count() == 2)
    assert(Checkpoints.load(spark, root, 1).count() == 1)
  }
}
