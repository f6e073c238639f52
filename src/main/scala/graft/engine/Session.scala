package graft.engine

import graft.operators.SeriesOps
import graft.operators.SeriesOps.Series
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._

/** Labeled interval on a series' time axis
  * (/root/reference/data_model.py:20-27).
  */
final case class Annotation(start: Double, end: Double, label: String,
    track: String = "default", color: String = "#4C78A8", id: Long = 0L)

/** One entry of the op history → recipes
  * (/root/reference/data_model.py:30-35).
  */
final case class OpRecord(description: String, params: Map[String, String],
    start: Double, end: Double)

/** Immutable session state — the reference's `DataModel` mutable
  * state (reference data_model.py:46-59) as a value. Undo/redo
  * (data_model.py:131-165) swaps state references, so it costs O(1);
  * [[Session]] materializes the frame of every state whose data an
  * edit changes.
  */
final case class EngineState(
    df: DataFrame,
    annotations: Vector[Annotation] = Vector.empty,
    deletions: Vector[(Double, Double)] = Vector.empty,
    history: Vector[OpRecord] = Vector.empty)

/** Undo/redo session over [[EngineState]]
  * (/root/reference/data_model.py:131-165): push-state-then-mutate,
  * with the redo stack cleared on every new mutation.
  *
  * Every edit that changes the data (`deleteSegment`, `markBad`,
  * `applyDataFrame`) stores a lazy `localCheckpoint` of its result, so
  * the next edit and every render scan the previous state's cached rows
  * (computed by the state's first action) instead of replaying load →
  * filter → every earlier edit: plan size stays flat with edit depth.
  * `annotate` shares the frame and materializes nothing; streaming
  * frames are never checkpointed.
  *
  * Memory is one cached copy of the trial per reachable state, as with
  * the reference's deep copy per operation. A mutation that clears the
  * redo stack releases each dropped frame that the current state and the
  * undo stack no longer share (by reference, via `annotate`); a released
  * frame must not be read again. Checkpointed rows live only in executor
  * block managers and do not survive executor loss.
  *
  * Replays (undo/redo, recipe replay, re-rendering the same window)
  * reuse compiled classes from Spark's codegen cache, sized in
  * [[graft.api.Graft.EngineConf]]. An edit with new bounds compiles
  * its own classes: Spark inlines literals into generated code.
  */
final class Session(s: Series, initial: EngineState) {
  private var current: EngineState = initial
  private var undoStack: List[EngineState] = Nil
  private var redoStack: List[EngineState] = Nil

  def state: EngineState = current
  def canUndo: Boolean = undoStack.nonEmpty
  def canRedo: Boolean = redoStack.nonEmpty

  private def mutate(next: EngineState): EngineState = {
    val dropped = redoStack
    undoStack = current :: undoStack
    redoStack = Nil
    current = next
    release(dropped)
    current
  }

  /** `next` with its frame cut from its lineage; the checkpoint is
    * lazy, so the state's first action computes and caches its rows.
    */
  private def materialized(next: EngineState): EngineState =
    if (next.df.isStreaming) next
    else next.copy(df = next.df.localCheckpoint(eager = false))

  /** Unpersist the checkpoint RDD of each dropped frame that no
    * reachable state still holds.
    */
  private def release(dropped: List[EngineState]): Unit = {
    val live = current :: undoStack
    dropped.map(_.df)
      .filterNot(d => live.exists(_.df eq d))
      .foreach { d =>
        GraftExpressionBridge.checkpointedRddId(d)
          .flatMap(d.sparkSession.sparkContext.getPersistentRDDs.get)
          .foreach(_.unpersist(blocking = false))
      }
  }

  def undo(): Boolean = undoStack match {
    case h :: t => redoStack = current :: redoStack; current = h; undoStack = t; true
    case Nil => false
  }

  def redo(): Boolean = redoStack match {
    case h :: t => undoStack = current :: undoStack; current = h; redoStack = t; true
    case Nil => false
  }

  /** R2 delete + collapse, logged (/root/reference/data_model.py:170-194). */
  def deleteSegment(start: Double, end: Double): EngineState =
    mutate(materialized(current.copy(
      df = SeriesOps.deleteCollapse(current.df, s, start, end),
      deletions = current.deletions :+ ((start, end)),
      history = current.history :+ OpRecord("delete_segment",
        Map("start" -> start.toString, "end" -> end.toString), start, end))))

  /** R3 mark-bad, logged (/root/reference/data_model.py:196-206). */
  def markBad(start: Double, end: Double): EngineState =
    mutate(materialized(current.copy(
      df = SeriesOps.markBad(current.df, s, start, end),
      history = current.history :+ OpRecord("mark_bad",
        Map("start" -> start.toString, "end" -> end.toString), start, end))))

  /** Add an annotation (/root/reference/data_model.py:208-218). */
  def annotate(a: Annotation): EngineState =
    mutate(current.copy(annotations = current.annotations :+ a))

  /** Swap in a transformed frame, logged
    * (/root/reference/data_model.py:365-372).
    */
  def applyDataFrame(df: DataFrame, description: String,
      params: Map[String, String] = Map.empty): EngineState =
    mutate(materialized(current.copy(df = df,
      history = current.history :+ OpRecord(description, params,
        Double.NaN, Double.NaN))))

  /** The reference's `_annotation_at_time` point lookup
    * (/root/reference/main.py:1052-1057): ties broken by non-episode
    * track first, then shortest duration.
    */
  def annotationAt(t: Double): Option[Annotation] =
    current.annotations.filter(a => a.start <= t && t <= a.end)
      .sortBy(a => (a.track == "episode", a.end - a.start))
      .headOption

  /** Annotations as an interval relation joined to the samples — the
    * distributed form of per-row annotation lookup (§2.6): broadcast
    * the (small) interval side, equi-join on series is unnecessary
    * here because annotations are per-session; predicate is the
    * point-in-interval containment.
    */
  def annotatedSamples(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    // annotations live on the driver (user-authored, human-scale);
    // guard the assumption so a programmatic caller bulk-loading
    // machine-generated intervals gets a clear error instead of a
    // driver OOM / oversized broadcast
    require(current.annotations.size <= Session.MaxBroadcastAnnotations,
      s"${current.annotations.size} annotations exceed the broadcast bound " +
        s"(${Session.MaxBroadcastAnnotations}); load them as a DataFrame and " +
        "use an interval join (see EventSeriesJoins.q32) instead")
    val ann = current.annotations.toDF()
    current.df.join(broadcast(ann),
      col(s.timeCol) >= col("start") && col(s.timeCol) <= col("end"), "left")
  }

  def historyJson: String = Recipes.toJson(current.history.collect {
    case OpRecord("delete_segment", p, a, b) => Recipes.Op.DeleteSegment(a, b)
    case OpRecord("mark_bad", p, a, b) => Recipes.Op.MarkBad(a, b)
  })
}

object Session {
  /** Ceiling on driver-held annotations eligible for the broadcast
    * interval join in [[Session.annotatedSamples]].
    */
  val MaxBroadcastAnnotations: Int = 100000
}
