package graft.operators

import org.apache.spark.sql.DataFrame

/** The loop mechanics every iterative operator shares: the round
  * bound, the lineage cut, one action per round, and the release of
  * the previous round.
  *
  * [[iterate]] drives the converging loops (connected components,
  * k-core). The fixed-round chains (`Graphs.pageRankPpm`,
  * `Graphs.bfsHops`) materialize lazily or by layers for measured
  * reasons of their own and take only the cut cadence, [[cutsAt]].
  */
object Fixpoint {

  /** Round bound of every converging loop. A converging caller that
    * reaches it has no answer and fails with [[NotConverged]]; it
    * never returns the labels of an unfinished round.
    */
  val MaxRounds = 40

  /** Lineage-truncation cadence for the fixed-round chains. Their
    * LOGICAL plan grows a join per round — at real depths (or a lost
    * executor) the accumulated chain means quadratic analysis cost
    * and a full-chain replay. Every k-th round the relation is
    * `localCheckpoint`ed (eager), which materializes it AND cuts the
    * plan back to a leaf, bounding lineage depth at k joins
    * regardless of iteration count. k = 8 keeps the default
    * 5/6-round queries on the single lazy chain (zero extra jobs); a
    * production run on a cluster with dynamic allocation would use
    * reliable `checkpoint` to a real dir instead (localCheckpoint
    * state dies with its executor).
    */
  val CheckpointEvery = 8

  /** Whether round `i` (1-based) of a fixed-round chain cuts lineage. */
  def cutsAt(i: Int): Boolean = i % CheckpointEvery == 0

  /** A converging loop reached its bound first. */
  final class NotConverged(loop: String, bound: Int)
    extends IllegalStateException(s"$loop did not converge within $bound rounds")

  /** The last relation a loop reached. */
  final case class Run(result: DataFrame, converged: Boolean, bound: Int) {
    /** The fixpoint: reaching the bound first is an error, never rows. */
    def fixpoint(loop: String): DataFrame =
      if (converged) result else throw new NotConverged(loop, bound)
  }

  /** Iterate `step` from `init` until `converged` holds or `bound`
    * rounds have run. `converged` is asked of `init` (round 0) and
    * then of each round, and must be ONE action that reads the whole
    * relation (a count or an aggregate).
    *
    * Every relation the loop tests, `init` included, is a lazy local
    * checkpoint, so that one action both fills it and cuts its
    * lineage: each round's plan is the step over one leaf. A persisted
    * round instead nests its input's whole cached plan in its plan
    * text, once per read and again for AQE's initial plan, so between
    * cuts the text grows about four- to sixfold per round; a 20-node
    * path peeled for seven rounds ran a test JVM out of heap printing
    * one such plan. The previous round's blocks are dropped once the
    * next round holds its own; the last round's stay with the scope.
    */
  def iterate(init: DataFrame, bound: Int = MaxRounds)(step: DataFrame => DataFrame)(
      converged: DataFrame => Boolean): Run = {
    var cur = graft.CacheScope.checkpoint(init, eager = false)
    var round = 0
    var done = converged(cur)
    while (!done && round < bound) {
      round += 1
      val next = graft.CacheScope.checkpoint(step(cur), eager = false)
      done = converged(next)
      release(cur)
      cur = next
    }
    Run(cur, done, bound)
  }

  private def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftExpressionBridge.checkpointedRddId(df)
      .flatMap(df.sparkSession.sparkContext.getPersistentRDDs.get)
      .foreach(_.unpersist(blocking = false))
}
