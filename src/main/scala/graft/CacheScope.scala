package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Pipeline-scoped cache registry.
  *
  * Query builders in this engine sometimes persist() an intermediate
  * that several downstream joins reference, or cut lineage with an
  * eager localCheckpoint. Both leave executor blocks alive after the
  * query's terminal action: `spark.catalog.clearCache()` evicts SQL
  * InMemoryRelations but NOT RDD-level checkpoint blocks, and a
  * builder cannot unpersist its own intermediate because the plan it
  * returns (lazily) still references it.
  *
  * The contract here: builders register every persist/checkpoint via
  * [[persisted]] / [[checkpointed]] / [[trackRddsOf]]; harness code
  * (Verify, Bench, specs) calls [[releaseAll]] AFTER consuming a
  * query's result. Releasing is safe at that point because nothing
  * re-reads the plan; releasing a block an unconsumed plan still needs
  * would force recomputation (persist) or fail (checkpoint), so the
  * call sites are strictly post-terminal-action.
  *
  * Thread-safety: the queue is concurrent, but release is meant to
  * run between queries on the harness thread, not concurrently with
  * an executing query.
  */
object CacheScope {

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** persist() MEMORY_AND_DISK + register the handle for release. */
  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    tracked.add(() => { p.unpersist(false); () })
    p
  }

  /** Eager lineage cut, honoring `spark.graft.checkpointDir`.
    *
    * Unset (the local / single-JVM default): eager localCheckpoint —
    * blocks live in executor storage and die with their executor,
    * which is fine when driver and executors share a JVM lifetime.
    *
    * Set (multi-node clusters): reliable `checkpoint(dir)` — the cut
    * RDD is written to the shared directory (HDFS/object store), so
    * an iterative loop survives executor loss mid-iteration instead
    * of failing with a missing-block error it cannot recompute
    * through. Every iterative operator in the engine (connected
    * components, IVF k-means) cuts through here, so one config flips
    * the whole engine's checkpoint discipline.
    */
  def cut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val dir = df.sparkSession.conf.get("spark.graft.checkpointDir", "")
    if (dir.isEmpty) df.localCheckpoint(true)
    else {
      // setCheckpointDir creates a per-context random subdir under the
      // configured path; only (re)set when unset or re-pointed so
      // repeated cuts share one subdir per session
      if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
        sc.setCheckpointDir(dir)
      df.checkpoint(true)
    }
  }

  /** [[cut]] + register the resulting RDD blocks for release. (For
    * reliable checkpoints the unpersist is a no-op — files under the
    * checkpoint dir are cleaned by the owner of the directory.) */
  def checkpointed(df: DataFrame): DataFrame = {
    val c = cut(df)
    trackRddsOf(c)
    c
  }

  /** Register the checkpoint RDDs referenced by an already-built
    * DataFrame (e.g. the final round of an iterative loop). */
  def trackRddsOf(df: DataFrame): Unit =
    rddsOf(df).foreach { r => tracked.add(() => { r.unpersist(false); () }) }

  /** Unpersist the checkpoint RDDs of `df` now, without registering
    * them — for an owner that bounds a [[cut]]'s lifetime itself (one
    * load group; a [[releaseAll]] there would also free what other
    * callers still read). The same post-consumption rule applies.
    * Files of a reliable checkpoint stay, as with [[releaseAll]].
    * Idempotent; never throws. */
  def release(df: DataFrame): Unit =
    rddsOf(df).foreach(r => try r.unpersist(false) catch { case _: Throwable => () })

  private[graft] def rddsOf(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** Unpersist every registered cache/checkpoint block. Call after the
    * consuming action; idempotent; never throws. */
  def releaseAll(): Unit = {
    var f = tracked.poll()
    while (f != null) {
      try f() catch { case _: Throwable => () }
      f = tracked.poll()
    }
  }
}
