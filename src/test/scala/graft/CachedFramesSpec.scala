package graft

import org.apache.spark.sql.functions._

class CachedFramesSpec extends SparkSpec {
  import spark.implicits._

  test("releaseAll frees the engine's internal caches but not user persists") {
    CachedFrames.releaseAll() // quiesce whatever earlier suites left
    val user = Seq((1L, 2L)).toDF("a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    user.count()
    val before = CachedFrames.registeredCount
    // an op with the documented outlives-the-call caching contract
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    ops.GraphOps.pageRank(edges, "s", "d", iters = 2).count()
    assert(CachedFrames.registeredCount > before,
      "pageRank must register its internal persists")
    CachedFrames.releaseAll()
    assert(CachedFrames.registeredCount == 0)
    // the user's own frame is still cached — releaseAll is surgical,
    // unlike spark.catalog.clearCache()
    assert(user.storageLevel.useMemory, "user persist must survive releaseAll")
    user.unpersist(blocking = true)
  }

  test("release frees only the named frames, not other registrations") {
    CachedFrames.releaseAll()
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    ops.GraphOps.pageRank(edges, "s", "d", iters = 1).count()
    val outer = CachedFrames.registeredCount
    assert(outer > 0)
    val mine = CachedFrames.cached(Seq((1L, 2L)).toDF("a", "b"))
    mine.count()
    assert(CachedFrames.registeredCount == outer + 1)
    CachedFrames.release(mine)
    assert(!mine.storageLevel.useMemory, "a released frame must be unpersisted")
    assert(CachedFrames.registeredCount == outer,
      "other registrations must survive a release")
    CachedFrames.releaseAll()
  }

  test("double release is a safe no-op (ops that unpersist internally leave stale entries)") {
    CachedFrames.releaseAll()
    // an operator that unpersists its own registered frame mid-call (the
    // IVF trainer, the connected-components loop) leaves a stale entry
    // behind — releaseAll afterwards must tolerate it
    val frame = CachedFrames.cached(Seq((1L, 2L)).toDF("a", "b"))
    frame.count()
    frame.unpersist(blocking = true)
    assert(CachedFrames.registeredCount == 1)
    CachedFrames.releaseAll()
    CachedFrames.releaseAll()
    assert(CachedFrames.registeredCount == 0)
  }
}
