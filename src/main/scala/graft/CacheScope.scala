package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Owner-scoped cache lifecycle for lazy query builders.
  *
  * Operator builders (Similarity, Dedup, Graphs, …) persist
  * intermediates that are probed more than once, but they return an
  * UNEXECUTED DataFrame — the persist must stay alive until the
  * caller's action completes, so the builder itself can never
  * unpersist. Before this existed, cleanup leaned on Bench/Verify's
  * blanket "unpersist everything" between queries, which a library
  * caller going through api.Vectors/api.Corpus doesn't have: every
  * facade call accumulated cached relations for the session.
  *
  * The contract:
  *   - builders register each persisted relation with the innermost
  *     active scope via [[persist]] (persist + track) or [[track]]
  *     (already-persisted relations, e.g. the surviving label relation
  *     of an iterative loop);
  *   - iterative builders cut lineage through [[checkpoint]], which
  *     runs the eager `localCheckpoint()` AND records the id of the
  *     persistent RDD it created with the innermost scope;
  *   - the ACTION-OWNING caller wraps build + action in [[run]]; at
  *     exit every tracked dataset is unpersisted through the catalog
  *     (so CacheManager entries are removed, not just RDD blocks), and
  *     every recorded checkpoint RDD is unpersisted by id.
  *
  * Outside any scope, [[persist]] / [[checkpoint]] degrade to the
  * plain Spark calls — ad-hoc callers keep today's behavior and own
  * the cleanup.
  *
  * The sweep releases ONLY what this scope's thread registered —
  * never a SparkContext-global diff. Frame tracking is thread-local
  * and so is ownership: a concurrent session's or sibling suite's
  * fresh persists (which land in the global persistent-RDD map during
  * this scope's window) are untouched, so concurrent scopes cannot
  * drain each other. Scope-NEW persistent RDDs that were neither
  * tracked nor checkpoint-recorded are a lifecycle bug in the builder
  * (a `persist()`/`localCheckpoint()` that bypassed CacheScope) — or
  * another thread's legitimate cache, which is exactly why they are
  * NOT swept; they are counted in [[lastSweep]] and the no-leaked-
  * cache suite guard fails on them, on the single-threaded suite
  * where the count is unambiguous.
  */
object CacheScope {

  private final class Frame(val baseline: Set[Int]) {
    val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    val ownedIds = scala.collection.mutable.ArrayBuffer.empty[Int]
  }

  // Thread-local so concurrent sessions/test suites can't drain each
  // other's scopes; all graft builders construct plans on the calling
  // thread, so the innermost frame is always the right owner.
  private val frames = new ThreadLocal[List[Frame]] {
    override def initialValue: List[Frame] = Nil
  }

  /** Persist `ds` (default storage level) and register it with the
    * innermost active scope, if any. A plan that is already cached is
    * left alone and not registered: the entry belongs to whoever
    * cached it (a caller's input, an outer scope), and Spark's
    * `persist` on a cached plan only logs, so tracking it here would
    * let this scope's exit unpersist the owner's cache.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel == StorageLevel.NONE) track(ds.persist()) else ds

  /** Register an already-persisted dataset with the innermost active
    * scope (no-op outside a scope).
    */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    frames.get() match {
      case f :: _ => f.tracked += ds
      case Nil    => ()
    }
    ds
  }

  /** `localCheckpoint()` with scope-recorded ownership: the
    * checkpointed RDD has no catalog entry to unpersist through, so
    * its id (read off the returned plan's LogicalRDD leaf — precise,
    * not a global-map diff) is recorded with the innermost scope and
    * released by id at scope exit. Outside a scope this is exactly
    * `ds.localCheckpoint(eager)`. A lazy checkpoint is filled, and
    * its lineage cut, by the first action that reads all of it.
    */
  def checkpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val cp = ds.localCheckpoint(eager)
    frames.get() match {
      case f :: _ =>
        org.apache.spark.sql.GraftExpressionBridge.checkpointedRddId(cp)
          .foreach(f.ownedIds += _)
      case Nil => ()
    }
    cp
  }

  /** Diagnostics from the most recent [[run]] on this thread:
    * `sweptCheckpoints` — checkpoint RDDs released by recorded id;
    * `leftUntracked` — persistent RDDs that appeared during the scope
    * without being tracked or recorded. The latter are NOT swept
    * (they may belong to a concurrent thread); on a single-threaded
    * suite a nonzero count means a builder bypassed CacheScope and
    * the no-leaked-cache guard fails on it.
    */
  final case class SweepDiag(sweptCheckpoints: Int, leftUntracked: Int)
  private val lastDiag = new ThreadLocal[SweepDiag] {
    override def initialValue: SweepDiag = SweepDiag(0, 0)
  }
  def lastSweep: SweepDiag = lastDiag.get()

  /** Run `body` in a fresh cache scope and release everything the
    * scope registered: tracked datasets unpersist through the
    * catalog; recorded checkpoint RDDs unpersist by id. The release
    * runs on ANY exit — normal or exceptional — so a failed job
    * cannot leak its pins (the sweep sits in a `finally`). Safe to
    * nest — an inner scope only releases its own relations. After
    * exit the returned value must not trigger recomputation of
    * scope-cached lineage (checkpoint data is gone), so materialize
    * inside the scope.
    */
  def run[A](sc: SparkContext)(body: => A): A = {
    val frame = new Frame(sc.getPersistentRDDs.keySet.toSet)
    frames.set(frame :: frames.get())
    try body
    finally {
      frames.set(frames.get().tail)
      frame.tracked.foreach { ds =>
        try ds.unpersist(blocking = false) catch { case _: Throwable => () }
      }
      val persistent = sc.getPersistentRDDs
      val owned = frame.ownedIds.toSet
      var sweptCp = 0
      owned.foreach { id =>
        persistent.get(id).foreach { r =>
          try { r.unpersist(blocking = false); sweptCp += 1 }
          catch { case _: Throwable => () }
        }
      }
      // diagnostics only — deliberately NOT swept (see scaladoc)
      val leftUntracked = sc.getPersistentRDDs.count { case (id, _) =>
        !frame.baseline.contains(id) && !owned.contains(id)
      }
      lastDiag.set(SweepDiag(sweptCp, leftUntracked))
    }
  }

  /** `df.scopedPersist()` chaining syntax for builder pipelines. */
  implicit final class ScopedDataset[T](private val ds: Dataset[T]) extends AnyVal {
    def scopedPersist(): Dataset[T] = CacheScope.persist(ds)

    /** [[scopedPersist]] + an immediate materializing `count()`.
      *
      * For a persisted relation consumed by SEVERAL branches of ONE
      * downstream job, lazy materialization is a trap: the branches'
      * map stages are independent, the scheduler launches them
      * CONCURRENTLY at job start, and each computes the cached plan
      * from scratch before any partition lands in the block manager —
      * an expensive shared upstream (a windowed scan, an interval
      * join) runs once PER BRANCH instead of once (measured: q122's
      * five rank iterations re-derived the incident-pair upstream to
      * ~60 s of task CPU on a 500-node graph). The eager count is one
      * cheap extra job that pins every partition first, so all
      * branches read the cache. Use for shared MULTI-consumer
      * relations; single-consumer persists should stay lazy.
      */
    def scopedPersistEager(): Dataset[T] = {
      val p = CacheScope.persist(ds)
      p.count()
      p
    }
  }
}
