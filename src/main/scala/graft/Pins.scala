package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for pinned intermediates. Operators that reuse a
  * relation — an iterative loop's round, a relation read by several
  * plan branches, a pipeline memoized per session — pin it here, and
  * every harness (Bench, Verify, TimeOne, ScaleCurve) calls
  * [[releaseAll]] between queries, once the previous result is
  * materialized.
  *
  *  - [[checkpoint]]: eager `localCheckpoint` — materializes once and
  *    truncates lineage.
  *  - [[persist]]: a MEMORY_AND_DISK CacheManager pin (the level every
  *    pin uses), filled by the first action.
  *  - [[cached]]: memoizes a whole pipeline per `(SparkSession, …)`
  *    key, so repeat invocations reuse one set of pins instead of
  *    stacking new ones.
  *  - [[unpin]]: frees one pin early, once no plan still to run reads
  *    it (a superseded loop round, a scoped scan).
  *
  * Thread-safe: `Threads.inParallel` thunks pin concurrently. */
object Pins {
  private val held = scala.collection.mutable.Set.empty[Dataset[_]]
  private val memo = TrieMap.empty[Any, Any]

  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    register(ds.localCheckpoint())

  def persist[T](ds: Dataset[T]): Dataset[T] =
    register(ds.persist(StorageLevel.MEMORY_AND_DISK))

  /** The value built for `key` since the last [[releaseAll]], built on
    * first use; the key leads with the SparkSession and names the
    * pipeline. */
  def cached[T](key: Product)(build: => T): T =
    memo.getOrElseUpdate(key, build).asInstanceOf[T]

  def unpin(ds: Dataset[_]): Unit = {
    held.synchronized { held -= ds }
    free(ds)
  }

  /** Free every registered pin and forget every memoized pipeline. */
  def releaseAll(): Unit = {
    val all = held.synchronized {
      val a = held.toList
      held.clear()
      a
    }
    all.foreach(free)
    memo.clear()
  }

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    held.synchronized { held += ds }
    ds
  }

  /** `Dataset.unpersist()` only reaches CacheManager entries. A
    * `localCheckpoint` persists the Dataset's internal RDD directly,
    * outside the CacheManager; the checkpointed Dataset's plan is a
    * LogicalRDD wrapping exactly that RDD, so it is unpersisted there
    * (otherwise its blocks linger until GC reaches the RDD). */
  private def free(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ds.unpersist()
    }
}
