package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place the engine pins data — [[cache]] and [[checkpoint]] —
  * and releases it — [[release]] and [[scoped]].
  *
  * Scope rules. [[scoped]] opens a release scope on the calling thread:
  * every pin made on that thread inside it is released when the body
  * returns or throws. A nested scope releases only its own pins. The
  * registry is a plain (non-inheritable) `ThreadLocal`, so a pool thread
  * never joins its submitter's scope and a scope can never release
  * another thread's pins. A pin made with no scope open lives until an
  * explicit [[release]]; failing that, a cache entry lives as long as
  * the session and a checkpoint until the ContextCleaner reclaims its
  * RDD. Every [[graft.plans.Runner]] job runs inside a scope; a
  * function that returns a lazy frame over its own pins leaves them to
  * the caller's scope, and releases only the rounds nothing can read
  * any more.
  *
  * Fail-closed tracking. `localCheckpoint` persists its RDD OUTSIDE the
  * CacheManager, so `Dataset.unpersist()` cannot free it. The frame
  * `localCheckpoint` returns is a [[org.apache.spark.sql.execution.LogicalRDD]]
  * leaf over exactly the RDD it persisted, so collecting those leaves
  * identifies what this call registered without diffing the global
  * persistent-RDD registry — a diff could capture a CONCURRENT query's
  * checkpoint RDD and later unpersist it (a truncated-lineage RDD is
  * unrecomputable once dropped). A plan shape with no visible
  * `LogicalRDD` leaf therefore FAILS CLOSED: nothing to release, a
  * bounded one-round leak, never a foreign unpersist.
  */
private[graft] object Checkpoints {

  /** The frames [[checkpoint]] returned, as a weak set: an unreleased
    * frame leaves no entry once its plan is garbage, and the set holds no
    * RDD, so the ContextCleaner reclaims it as it would without the set.
    */
  private val checkpointFrames = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[DataFrame, java.lang.Boolean]()))

  /** This thread's open scopes, innermost first. */
  private val scopes = new ThreadLocal[List[mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[mutable.ArrayBuffer[DataFrame]] = Nil
  }

  private def pinned(df: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_ += df)
    df
  }

  /** `df` cached in the CacheManager at MEMORY_AND_DISK (lazy, like
    * `Dataset.persist`).
    */
  def cache(df: DataFrame): DataFrame =
    pinned(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** `df.localCheckpoint(eager)`, tracked for [[release]]. Release a
    * round only once nothing can read it: a truncated-lineage RDD cannot
    * be recomputed after unpersist.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ck = df.localCheckpoint(eager)
    if (persistedLeaves(ck).isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft.Checkpoints: no LogicalRDD leaf on a localCheckpoint plan; " +
          "nothing to release (one checkpoint round will stay persisted)")
    checkpointFrames.add(ck)
    pinned(ck)
  }

  /** Release a frame [[cache]] or [[checkpoint]] returned, now (async —
    * the blocking flag only gates the driver; no Spark job runs).
    */
  def release(df: DataFrame): Unit = {
    scopes.get.foreach(_ -= df)
    free(df)
  }

  /** Run `body`, then release every pin it made on this thread. */
  def scoped[T](body: => T): T = {
    val outer = scopes.get
    val pins = mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(pins :: outer)
    try body
    finally {
      scopes.set(outer)
      pins.foreach(free)
    }
  }

  private def persistedLeaves(ck: DataFrame): Seq[RDD[_]] =
    ck.queryExecution.analyzed.collect {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE => lr.rdd
    }

  private def free(df: DataFrame): Unit =
    if (checkpointFrames.remove(df)) persistedLeaves(df).foreach(_.unpersist(blocking = false))
    else df.unpersist(blocking = false)
}
