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

  test("withCached scopes a composition: registered during the block, gone after") {
    CachedFrames.releaseAll()
    val docs = Seq((1L, "a b a b"), (2L, "a b a c")).toDF("doc_id", "text")
    val out = CachedFrames.withCached {
      // bigramFamiliarity persists its exploded bigram frame internally
      val r = ops.TextStats.bigramFamiliarity(docs, "doc_id", "text").collect()
      assert(CachedFrames.registeredCount > 0,
        "internal persist must be registered inside the scope")
      r
    }
    assert(out.nonEmpty)
    assert(CachedFrames.registeredCount == 0,
      "scope exit must release what the block registered")
  }

  test("withCached releases only the block's frames, not earlier registrations") {
    CachedFrames.releaseAll()
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    ops.GraphOps.pageRank(edges, "s", "d", iters = 1).count()
    val outer = CachedFrames.registeredCount
    assert(outer > 0)
    CachedFrames.withCached {
      ops.GraphOps.pageRank(edges, "s", "d", iters = 1).count()
      assert(CachedFrames.registeredCount > outer)
    }
    assert(CachedFrames.registeredCount == outer,
      "outer registrations must survive an inner scope")
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
