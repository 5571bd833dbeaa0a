package graft.operators

import org.apache.spark.sql.DataFrame

/** Cache-lifetime contract for the public operator APIs.
  *
  * Operators like [[MinHashLSH.signaturesAndPairs]], [[CorpusCuration.manifest]],
  * and [[TriangleCount.perNode]] persist() intermediates that their returned
  * (lazy) DataFrames depend on — unpersisting inside the operator would force a
  * full recompute at the caller's first action, so the release has to happen on
  * the CALLER's side, after results are materialized. A CacheScope makes that
  * ownership explicit: the operator registers every intermediate it persists
  * with the scope it was handed, and the caller calls [[CacheScope.release]]
  * once the outputs are written/collected. PipelineQueriesSpec pins that
  * nothing stays cached after release().
  *
  * The default scope is [[CacheScope.Unmanaged]], which persists WITHOUT
  * tracking: correct for the Verify/Bench harnesses (they clear the session
  * cache between queries) but a leak for a long-lived application — library
  * callers looping over operator calls must pass `new CacheScope` and release
  * it per batch.
  */
final class CacheScope private (tracking: Boolean) {
  def this() = this(true)

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val trackedRdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    df.persist()
    if (tracking) tracked += df
    df
  }

  /** Register RDD-level cached blocks (e.g. a `localCheckpoint`'s — those
    * live OUTSIDE the SQL cache manager, so neither `clearCache()` nor the
    * DataFrame path above reaches them; see [[checkpoint]], which
    * [[ConnectedComponents]] and the pruned [[KMeans.fitCentroidTable]]
    * use). */
  private[graft] def trackRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit = synchronized {
    if (tracking) trackedRdds += rdd
  }

  /** Eager `localCheckpoint` whose cached blocks belong to this scope —
    * truncates the input's lineage (so block eviction can only ever cost a
    * recompute of the checkpoint itself, never a cascade back through the
    * plan that produced it) AND registers the checkpoint RDD for
    * [[release]]. On a real cluster, reliable checkpointing (or a table
    * write) replaces this for executor-loss tolerance. */
  private[graft] def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => trackRdd(lr.rdd)
      case _ => ()
    }
    out
  }

  /** Unpersist every intermediate registered with this scope. Safe to call
    * more than once; no-op on [[CacheScope.Unmanaged]]. */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
    trackedRdds.foreach(_.unpersist(blocking = false))
    trackedRdds.clear()
  }
}

object CacheScope {
  /** Persists without tracking — for harness contexts that clear the session
    * cache between queries. A singleton that tracked would itself leak
    * DataFrame references on the driver, so it deliberately does not. */
  val Unmanaged: CacheScope = new CacheScope(false)

  /** Eagerly free a SUPERSEDED localCheckpoint's blocks (one a later
    * checkpoint was derived from) instead of waiting for scope release or
    * ContextCleaner GC — iterative builders otherwise hold 2× the working
    * set between rounds. Safe on any DataFrame: no-op unless its plan root
    * is a LogicalRDD whose RDD this machinery locally checkpointed — a
    * DataFrame built via `spark.createDataFrame` over a caller-persisted
    * RDD also roots at a LogicalRDD, and unpersisting THAT would silently
    * drop the caller's caching, so the guard checks `isCheckpointed`
    * (true only for materialized local/reliable checkpoints — Spark keeps
    * the finer `isLocallyCheckpointed` private[spark]) before touching the
    * RDD. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.isCheckpointed =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
