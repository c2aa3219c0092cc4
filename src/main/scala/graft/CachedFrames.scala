package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for the operator family's internal persists.
  *
  * Several operators persist intermediates that deliberately outlive the
  * call — the near-dup membership frames ([[ops.Dedup]]), the PageRank
  * degree/adjacency ([[ops.GraphOps]]), the n-gram count tables behind
  * `unigramFamiliarity`/`bigramFamiliarity` ([[ops.TextStats]]) — because
  * the returned LAZY frame still reads them when the caller finally acts.
  * That contract is right for a query engine but hostile to a long-lived
  * library session: before round 10 the only reclaim lever was
  * `spark.catalog.clearCache()`, which also evicts every frame the USER
  * persisted. Every internal persist now routes through [[cached]], so:
  *
  *  - [[releaseAll]] frees exactly the engine's internal caches and
  *    nothing else — the user's own persists survive;
  *  - [[release]] frees named frames, for a caller that knows when its
  *    own persists are no longer read.
  *
  * Unpersists are non-blocking (block eviction proceeds in the
  * background) and idempotent — operators that already release an
  * intermediate mid-call (the connected-components iteration, the IVF
  * trainer) simply leave a no-op entry behind. Thread safety: the
  * registry is synchronized.
  */
object CachedFrames {

  private val frames = scala.collection.mutable.ListBuffer.empty[Dataset[_]]

  /** Persist (MEMORY_AND_DISK) and register for scoped release — the
    * single seam every internal operator persist goes through.
    */
  private[graft] def cached[T](ds: Dataset[T]): Dataset[T] = synchronized {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    frames += p
    p
  }

  /** Number of currently registered internal frames (diagnostics). */
  def registeredCount: Int = synchronized(frames.length)

  /** Unpersist every registered internal frame and clear the registry.
    * User-persisted frames are untouched (unlike
    * `spark.catalog.clearCache()`).
    */
  def releaseAll(): Unit = synchronized {
    frames.foreach(f =>
      try f.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () })
    frames.clear()
  }

  /** Unpersist `ds` and drop them from the registry — for a caller that
    * knows when its own persists are no longer read.
    */
  def release(ds: Dataset[_]*): Unit = synchronized {
    ds.foreach { d =>
      try d.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
      frames.filterInPlace(_ ne d)
    }
  }
}
