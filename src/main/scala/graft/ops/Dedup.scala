package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard. Designed so that nothing is ever
  * quadratic in the corpus: candidate generation always goes through a
  * bucket (band-hash / bit-chunk / shared-shingle) shuffle join, and the
  * expensive verification runs only on candidate pairs.
  *
  * Caching contract: the near-dup operators persist their kernel-pass
  * projections (MEMORY_AND_DISK) because each feeds 2–4 plan subtrees; a
  * library function cannot know when the caller's final action runs, so
  * nothing is unpersisted here. Every internal persist routes through
  * [[graft.CachedFrames]], so long-running sessions composing MANY
  * dedup calls release exactly the engine's caches with
  * `CachedFrames.releaseAll()` — user persists survive, unlike the
  * blunt `spark.catalog.clearCache()`. Accumulated entries otherwise
  * cause eviction thrash (measured 3× slowdown when four ops' caches
  * stack on one small executor).
  */
object Dedup {

  /** Exact dedup by content hash, keeping the row with the smallest id.
    * One shuffle on the 128-bit content hash; at 100 TB the shuffle carries
    * (hash, id) pairs only if callers project first — here we keep the
    * row because output is the surviving records.
    */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** [[exactByContent]] in its wide-row-safe form: the dedup shuffle
    * carries ONLY (content-hash, id) pairs — a multi-KB document never
    * crosses the wire — and the surviving rows come back via a left-semi
    * join on id (which AQE broadcasts when the survivor set is small
    * relative to the table). Prefer this when rows are heavy; the window
    * form is fine when rows are already narrow.
    */
  def exactByContentProjected(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val survivors = df
      .select(md5(col(textCol)).as("__h"), col(idCol))
      .groupBy("__h").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(survivors, Seq(idCol), "left_semi")
  }

  // --- MinHash + LSH --------------------------------------------------------

  /** Number of MinHash functions (banded as [[Bands]] × [[RowsPerBand]]).
    * b=32, r=4 puts the LSH S-curve threshold at (1/32)^(1/4) ≈ 0.42 with
    * P(candidate | J=0.8) ≈ 1 − (1−0.8⁴)³² ≈ 0.99999995 — effectively
    * exhaustive above the verify threshold, so LSH+verify ≡ exact
    * threshold-Jaccard while staying near-linear in corpus size.
    */
  val NumHashes = 128
  val Bands = 32
  val RowsPerBand = 4

  /** MinHash signature of a HASHED shingle set (see
    * [[graft.functions.TextKernels.shingleHashSet]]): signature(i) = min
    * over shingles of one SplitMix64 round seeded by i — "hash once,
    * permute cheaply". A per-document imperative kernel: the HOF
    * formulation (`array_min(transform(...))` × k) is CodegenFallback-
    * interpreted and ~10× slower. Empty/null set → null signature (doc too
    * short to compare).
    */
  def minhashSignature(hashedShingleSet: Column, k: Int = NumHashes): Column =
    graft.functions.minhash_signature(hashedShingleSet, k)

  /** Candidate pairs via LSH banding: explode each signature into
    * [[Bands]] (bandIdx, bandHash) keys, shuffle on the key, and emit
    * intra-bucket pairs (a < b). The only shuffle is on band hashes;
    * bucket sizes are tiny for non-degenerate corpora, so pair expansion
    * is local and small.
    */
  def lshCandidates(docs: DataFrame, idCol: String, sigCol: String): DataFrame = {
    val bands = docs
      .filter(col(sigCol).isNotNull)
      .select(
        col(idCol).as("__id"),
        posexplode(graft.functions.band_hashes(col(sigCol), Bands, RowsPerBand))
          .as(Seq("band_idx", "band_hash")))
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs: join the hashed
    * shingle sets back on both sides (broadcast-friendly when the
    * candidate list is small) and merge-intersect the sorted arrays.
    */
  def verifyJaccard(
      candidates: DataFrame,
      docs: DataFrame, idCol: String, shingleCol: String): DataFrame = {
    val sets = docs.select(col(idCol).as("__vid"), col(shingleCol).as("__vset"))
    candidates
      .join(sets.withColumnRenamed("__vid", "id_a").withColumnRenamed("__vset", "__set_a"), "id_a")
      .join(sets.withColumnRenamed("__vid", "id_b").withColumnRenamed("__vset", "__set_b"), "id_b")
      .withColumn("jaccard",
        graft.functions.jaccard_sorted(col("__set_a"), col("__set_b")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** End-to-end MinHash near-dup: shingle-hash → sign → band →
    * bucket-join → exact verify ≥ threshold. Output: (id_a, id_b,
    * jaccard), id_a < id_b. Shingle hashing is 64-bit, so "exact" is
    * modulo hash collisions (~2⁻⁶⁴ per shingle pair — negligible).
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // persist the kernel pass: this frame feeds the band self-join (twice)
    // and both verify joins — without it Spark recomputes the dominant
    // shingle+signature cost up to 4×. MEMORY_AND_DISK spills rather than
    // OOMs at scale; entries are LRU-evicted (library can't know when the
    // caller's last action runs, so no unpersist here).
    val signed = df.select(
      col(idCol),
      graft.functions.shingle_hash_set(col(textCol), n).as("__shingles"))
      .withColumn("__sig", minhashSignature(col("__shingles")))
      .transform(graft.CachedFrames.cached)
    val cands = lshCandidates(signed, idCol, "__sig")
    verifyJaccard(cands, signed, idCol, "__shingles")
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup corpus curation: drop every document that has a near-dup
    * with a smaller id (greedy keep-first per near-dup pair — the standard
    * training-data filter; NOT transitive-closure clustering, which would
    * need iterative min-id propagation). One anti-join against the
    * candidate pairs; at 100 TB the pair set is tiny relative to the
    * corpus, so AQE turns the anti-join into a broadcast.
    *
    * The loser-id set is materialized EAGERLY (persist + count) before
    * the anti-join is composed: left fully lazy, the anti-join's plan
    * embeds the whole pair pipeline, and its concurrently-scheduled
    * stages each recompute the persisted signature frame before any of
    * them has cached it — measured 4.4× the pair cost on the 8× probe;
    * eager materialization returns it to pair-cost-plus-epsilon. The
    * persisted loser frame is id-only (bounded by the pair count) and
    * stays cached for the caller's actions — `spark.catalog.clearCache()`
    * releases it, same contract as [[minhashNearDups]]'s signature frame.
    *
    * `eager = false` skips the persist+count and returns a fully LAZY
    * plan — for callers that only explain/inspect the plan or compose it
    * behind a conditional that may never execute (the eager form runs
    * the whole minhash pair pipeline at call time). EXECUTING the lazy
    * form pays the concurrent-stage recompute race described above; flip
    * back to eager (or persist upstream) before running it for real.
    */
  def nearDupFilter(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8, eager: Boolean = true): DataFrame = {
    val loserIds = minhashNearDups(df, textCol, idCol, n, threshold)
      .select(col("id_b").as(idCol)).distinct()
    val losers =
      if (eager) {
        val p = loserIds.transform(graft.CachedFrames.cached)
        p.count()
        p
      } else loserIds
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Minimum-label connected components over an edge list: every vertex
    * ends with `cluster` = the smallest vertex id reachable from it.
    * Iterative min-label propagation (the standard distributed CC): each
    * round joins the symmetrized edges to the current labels and takes the
    * per-vertex min; converges in ≤ diameter rounds (near-dup clusters are
    * shallow — pairs share content, so diameters are small). Each round is
    * one shuffle; intermediate labels persist and the previous round is
    * unpersisted, with the driver seeing only a convergence COUNT per
    * round (never the labels). At extreme depth, checkpoint periodically
    * to cut lineage — not needed for the shallow graphs dedup produces.
    */
  def connectedComponents(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, checkpointEvery: Int = 2): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1: $checkpointEvery")
    // persist the symmetrized edge list: it feeds EVERY round's join, and
    // without it the whole upstream pipeline (for near-dup edges, the LSH
    // band join + verify) re-executes once per round — measured 3× the
    // operator's whole cost at bench scale
    val sym = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .union(edges.select(col(dstCol).as("__src"), col(srcCol).as("__dst")))
      .transform(graft.CachedFrames.cached)
    // materialize the cache BEFORE the loop: the first round's job reads
    // sym from several parallel subtrees (seed labels, propagation, both
    // sides of the convergence join), and concurrent subtrees of ONE job
    // each recompute a not-yet-cached plan — measured as the upstream LSH
    // running 3× inside the first action
    sym.count()
    // iterate ONLY over vertices that have an edge (the overwhelming
    // majority of a deduped corpus is singleton — no reason to shuffle it
    // every round); singletons rejoin as their own cluster at the end.
    // The seed already folds in round 1: cluster = min(self, direct
    // neighbors) costs the same single shuffle as a plain distinct, and
    // for clique-shaped duplicate groups (the common case) it converges
    // one round earlier.
    var labels = sym.groupBy("__src").agg(min("__dst").as("__mind"))
      .select(col("__src").as("id"),
        least(col("__src"), col("__mind")).as("cluster"))
      .transform(graft.CachedFrames.cached)
    var converged = false
    var round = 0
    // the superseded checkpoint's blocks are released explicitly —
    // RDD-level persists are invisible to catalog.clearCache, and
    // leaving them to the ContextCleaner's GC race makes cache
    // accounting nondeterministic
    var prevCheckpoint: Option[org.apache.spark.rdd.RDD[_]] = None
    def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    while (!converged) {
      // ONE action per round: the shrank-count rides the materializing
      // count as an observe metric instead of a second traversal — in
      // local mode per-round job overhead dominates the (tiny) label
      // frames, so halving the actions halves the loop
      val prop = sym.join(labels, sym("__src") === labels("id"))
        .select(col("__dst").as("id"), col("cluster"))
        .groupBy("id").agg(min("cluster").as("__pmin"))
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          when(col("__pmin") < col("cluster"), col("__pmin"))
            .otherwise(col("cluster")).as("cluster"),
          (col("__pmin") < col("cluster")).cast("long").as("__shrank"))
        .observe(obs, coalesce(sum(col("__shrank")), lit(0L)).as("shrunk"))
        .select("id", "cluster")
        .transform(graft.CachedFrames.cached)
      next.count()
      labels.unpersist()
      round += 1
      converged = obs.get("shrunk").asInstanceOf[Long] == 0L
      // truncate lineage at the checkpoint cadence (default every 2nd
      // round): the label plan feeds both the propagation and the merge,
      // so its tree DOUBLES per non-checkpointed round — measured on a
      // 12-vertex chain, planning hits 12 s/round by round 7 and 155 s by
      // round 8 (6k plan nodes); convergence takes O(graph diameter)
      // rounds, so any long chain dies in planning, not execution. The
      // eager localCheckpoint pins the (tiny) label frame as materialized
      // blocks and restarts the plan from a LogicalRDD. The checkpoint
      // job itself costs ~a round of useful work, so cadence trades
      // checkpoint count against plan growth 2^cadence inside the
      // window: the 64× probe (4.2 M vertices, diameter 32 — SCALING.md)
      // measured 152.6 s at cadence 1, 94.8 s at 2, 80.2 s at 4, and
      // 658.5 s at 8 (the 256×-node plans hit Catalyst's superlinear
      // analysis cliff). Default 2 takes the 1.6× win with a 16×
      // plan-size margin from that cliff; pass 4 for long-diameter
      // graphs where the extra 15% matters.
      // A previous checkpoint's blocks are released only when the NEXT
      // checkpoint exists: intermediate (non-checkpointed) rounds'
      // persisted frames still trace their lineage to it, and local
      // checkpoints are non-recoverable once dropped.
      // (The checkpoint must come AFTER obs.get: the metric rides the
      // count; the checkpoint job is an RDD action observe never sees.)
      if (round % checkpointEvery == 0 || converged) {
        val cp = next.localCheckpoint(eager = true)
        next.unpersist()
        prevCheckpoint.foreach(_.unpersist(blocking = false))
        prevCheckpoint = checkpointRdd(cp)
        labels = cp
      } else {
        labels = next
      }
    }
    // the FINAL round's checkpoint stays: it is the data behind the
    // returned (lazy) result — local checkpoints are non-recoverable, so
    // releasing it here would lose the labels before the caller acts.
    // The ContextCleaner reclaims it when the result goes out of scope.
    vertices.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Triangle census of an undirected edge list (near-dup pair graphs,
    * citation/link graphs): one summary row with `n_nodes` (vertices
    * with ≥ 1 edge), `n_edges` (canonical undirected edges),
    * `n_wedges` (unordered 2-paths, Σ d(d−1)/2), `n_triangles`, and the
    * global clustering coefficient 3·triangles / wedges — the motif
    * profile that tells a near-dup graph's SHAPE apart: duplicate
    * clusters are cliques (coefficient → 1), template chains are
    * triangle-free (→ 0), and a drift between ingests shows up here
    * before cluster counts move. Complements [[connectedComponents]],
    * which sees only reachability.
    *
    * Scale shape: the naive wedge join explodes at hub vertices
    * (Σ d² with d unbounded). This is the degree-oriented count (the
    * standard distributed formulation, cf. Suri & Vassilvitskii,
    * WWW'11): orient every edge from its lower (degree, id) endpoint —
    * each triangle is then counted EXACTLY once, at its minimum-degree
    * corner, and oriented out-degrees are O(√m), so the wedge join is
    * bounded by Σ outdeg² ≤ m^1.5 regardless of hubs. Three shuffles
    * (degree aggregate, wedge self-join, closing-edge semi-join), all
    * on edge keys; nothing quadratic in a vertex's raw degree.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .transform(graft.CachedFrames.cached)
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .transform(graft.CachedFrames.cached)
    // orient a–b from its lower (degree, id) endpoint; carry the HEAD
    // endpoint's (degree, id) so the wedge join can order its two heads
    // by the same total order without a third degree join
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("__db")), Seq("b"))
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("__dw"))
      .transform(graft.CachedFrames.cached)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
      col("e1.u") === col("e2.u") &&
        struct(col("e1.__dw"), col("e1.w")) < struct(col("e2.__dw"), col("e2.w")))
    // a closing edge v–w (v ≺ w in the (deg, id) order) is stored
    // oriented v→w, so one equi-join probe closes the wedge
    val triangles = wedges.join(oriented.as("e3"),
        col("e3.u") === col("e1.w") && col("e3.w") === col("e2.w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("d * (d - 1) DIV 2")), lit(0L)).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") === 0L, lit(0d))
          .otherwise(col("n_triangles") * lit(3d) / col("n_wedges")), 6)
          .as("global_clustering"))
  }

  /** Transitive near-dup clustering: [[minhashNearDups]] pairs as edges,
    * then [[connectedComponents]] — every document labeled with its
    * cluster's smallest doc id (docs with no near-dup form singleton
    * clusters). The real-pipeline shape of dedup: keep one representative
    * per CLUSTER (e.g. `cluster = id`), where the greedy pair filter
    * ([[nearDupFilter]]) can over- or under-delete on chains a–b–c.
    */
  def nearDupClusters(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // persist the pair list: symmetrization reads it from TWO union
    // branches, which would otherwise run the band join + verify twice
    val pairs = minhashNearDups(df, textCol, idCol, n, threshold)
      .transform(graft.CachedFrames.cached)
    connectedComponents(df, idCol, pairs, "id_a", "id_b")
  }

  /** Cluster-aware dedup: keep exactly ONE representative per near-dup
    * cluster (the smallest-id member), via [[nearDupClusters]] +
    * left-semi join — the correct curation on chains a–b–c where the
    * greedy pair filter can over- or under-delete.
    */
  def nearDupClusterKeepers(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val heads = nearDupClusters(df, textCol, idCol, n, threshold)
      .filter(col("id") === col("cluster"))
      .select(col("id").as(idCol))
    df.join(heads, Seq(idCol), "left_semi")
  }

  /** Cross-corpus contamination (train/eval decontamination — the
    * pretraining hygiene step): every (train, eval) document pair sharing
    * ≥ `threshold` exact n-gram Jaccard. Both corpora are signed with the
    * SAME MinHash family and banded; the bucket join runs train bands
    * against eval bands only (never train×train or eval×eval, and with
    * separate output columns so overlapping id spaces are fine), then the
    * exact verify scores just the cross-corpus candidates. Same
    * near-linear scale shape as [[minhashNearDups]]; the eval side is
    * typically tiny, so its band table broadcasts.
    */
  def crossCorpusContamination(
      train: DataFrame, trainTextCol: String, trainIdCol: String,
      eval: DataFrame, evalTextCol: String, evalIdCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    def signed(df: DataFrame, textCol: String, idCol: String): DataFrame = df
      .select(
        col(idCol).as("__id"),
        graft.functions.shingle_hash_set(col(textCol), n).as("__shingles"))
      .withColumn("__sig", minhashSignature(col("__shingles")))
      .transform(graft.CachedFrames.cached)
    def bands(d: DataFrame): DataFrame = d
      .filter(col("__sig").isNotNull)
      .select(col("__id"),
        posexplode(graft.functions.band_hashes(col("__sig"), Bands, RowsPerBand))
          .as(Seq("band_idx", "band_hash")))
    val t = signed(train, trainTextCol, trainIdCol)
    val e = signed(eval, evalTextCol, evalIdCol)
    val cands = bands(t).as("l")
      .join(bands(e).as("r"),
        col("l.band_idx") === col("r.band_idx") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col("l.__id").as("train_id"), col("r.__id").as("eval_id"))
      .distinct()
    cands
      .join(t.select(col("__id").as("train_id"), col("__shingles").as("__set_a")), "train_id")
      .join(e.select(col("__id").as("eval_id"), col("__shingles").as("__set_b")), "eval_id")
      .withColumn("jaccard",
        graft.functions.jaccard_sorted(col("__set_a"), col("__set_b")))
      .select(col("train_id"), col("eval_id"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental dedup against an already-ingested history WITHOUT joining
    * it wholesale — the 100 TB "have we seen this before" primitive. A
    * Bloom filter over the history's content hashes (ONE aggregate pass;
    * the sketch lands on the driver at `numBits/8` bytes — the same
    * footprint class as a broadcast, and reusable across many incoming
    * batches) prefilters the incoming batch map-side; only bloom-POSITIVE
    * rows pay the exact md5 semi-join that removes false positives, and
    * bloom-negative rows (the vast majority when overlap is rare) never
    * shuffle at all. No false negatives by Bloom construction, no false
    * positives after the verify join — the output is EXACT.
    *
    * Output: `incoming` with an `in_history` boolean appended. Null-text
    * rows are never flagged (no content, no identity); null ids pass
    * through (flag is computed from content, not id).
    *
    * At 100 TB: size `expectedItems`/`fpp` to the history's distinct-doc
    * count (8 M items at 1% fpp ≈ 10 MB sketch); the verify join's history
    * side should be a pre-bucketed (hash) table so repeated batches pay no
    * history shuffle; build the sketch once per history snapshot with
    * [[historyBloomSketch]] and pass it to the `sketch` overload for every
    * batch (this convenience form rebuilds it per call). NOTE: Spark
    * SILENTLY clamps the aggregate to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (4 M default)
    * and `.maxNumBits` (2²⁶ ≈ 8 MB default) — past those, raise both confs
    * or the real fpp quietly exceeds the requested one (output stays exact
    * either way; only prefilter selectivity degrades).
    */
  def dedupAgainstHistory(
      history: DataFrame, historyTextCol: String,
      incoming: DataFrame, textCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    dedupAgainstHistory(
      historyBloomSketch(history, historyTextCol, expectedItems, fpp),
      history, historyTextCol, incoming, textCol)

  /** The history Bloom sketch [[dedupAgainstHistory]] prefilters with, as
    * serialized bytes: ONE aggregate pass over the snapshot, reusable
    * across every incoming batch until the history grows. Keys are
    * `xxhash64(text)` — the `sketch` overload probes with the same hash.
    */
  def historyBloomSketch(
      history: DataFrame, historyTextCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    history
      .filter(col(historyTextCol).isNotNull)
      .agg(graft.functions.bloom_filter_agg(
        xxhash64(col(historyTextCol)), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[dedupAgainstHistory]] with a PREBUILT sketch (from
    * [[historyBloomSketch]], possibly persisted between runs): no
    * aggregate pass over the history per batch, and the sketch ships to
    * executors as a BROADCAST variable — embedding the ~MB bytes as a
    * plan Literal (what the built-in `might_contain` requires) bloats
    * every plan/explain/task binary it touches. `history` is still joined
    * for the exact verify of bloom-positives only.
    */
  def dedupAgainstHistory(
      sketch: Array[Byte],
      history: DataFrame, historyTextCol: String,
      incoming: DataFrame, textCol: String): DataFrame = {
    // a null sketch means the history had ZERO non-null-text rows (the
    // Bloom aggregate returns null over empty input — the bootstrap batch
    // against a not-yet-populated snapshot): nothing can have been seen,
    // and broadcasting the null would NPE in every task instead
    if (sketch == null)
      return incoming.withColumn("in_history", lit(false))
    dedupAgainstHistory(
      incoming.sparkSession.sparkContext.broadcast(sketch),
      history, historyTextCol, incoming, textCol)
  }

  /** [[dedupAgainstHistory]] with the sketch already broadcast — the
    * per-batch reuse form: this overload broadcasts NOTHING, so a
    * long-lived session looping over batches ships the ~MB sketch to
    * executors once (`val bc = sc.broadcast(historyBloomSketch(...))`),
    * passes `bc` to every batch, and `bc.destroy()`s it when the history
    * snapshot rolls — the Array[Byte] convenience overload above
    * broadcasts per call and leaves reclamation to ContextCleaner GC,
    * which accumulates in exactly that loop. The handle's value must be
    * the non-null bytes of [[historyBloomSketch]].
    */
  def dedupAgainstHistory(
      bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      history: DataFrame, historyTextCol: String,
      incoming: DataFrame, textCol: String): DataFrame = {
    require(bcast != null && bcast.value != null,
      "sketch broadcast must carry non-null bytes; for an empty history " +
        "call the Array[Byte] overload, which short-circuits a null sketch")
    val candidate = col(textCol).isNotNull &&
      graft.functions.might_contain_broadcast(bcast, xxhash64(col(textCol)))
    // split-union so bloom-negatives never reach the verify join's shuffle
    val positives = flagAgainstSeenSet(
      incoming.filter(candidate), textCol, history, historyTextCol)
    val negatives = incoming.filter(!coalesce(candidate, lit(false)))
      .withColumn("in_history", lit(false))
    positives.unionByName(negatives)
  }

  /** The exact "seen before" verify stage shared by [[dedupAgainstHistory]]
    * and the streaming twin ([[graft.streaming.Streams.flagSeenInStatic]]):
    * left join on md5(content) against the history's distinct hash set,
    * null content never flagged. One definition so batch and streaming
    * semantics cannot fork.
    */
  def flagAgainstSeenSet(
      rows: DataFrame, textCol: String,
      history: DataFrame, historyTextCol: String): DataFrame = {
    val seen = history
      .filter(col(historyTextCol).isNotNull)
      .select(md5(col(historyTextCol)).as("__h")).distinct()
      .withColumn("__seen", lit(true))
    rows.join(seen, md5(col(textCol)) === col("__h"), "left")
      .withColumn("in_history", coalesce(col("__seen"), lit(false)))
      .drop("__h", "__seen")
  }

  /** Exact n-gram decontamination scan — the published eval-overlap
    * protocol (a 13-gram of an eval document appearing ANYWHERE in the
    * training corpus marks contamination), as opposed to
    * [[crossCorpusContamination]]'s document-level Jaccard: per eval doc,
    * how many of its distinct word n-grams occur in train, and the
    * fraction. Output: (evalIdCol, n_grams, n_hit, hit_frac); eval docs
    * with no n-grams (< n tokens) are excluded, null eval ids excluded.
    *
    * Distributed shape: distinct train grams (map-side combined), then ONE
    * pass over exploded eval grams — a left join against the unique gram
    * set folded straight into the per-doc aggregate. Both shuffles key on
    * the gram string; no pairwise doc joins, nothing driver-side. At
    * 100 TB the train gram set is the cost: hash grams to int64 before the
    * join, partition both sides by gram, or front a Bloom filter on the
    * (much smaller) eval gram set to pre-filter train's explode.
    */
  def exactNgramContamination(
      train: DataFrame, trainTextCol: String,
      eval: DataFrame, evalIdCol: String, evalTextCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, s"n-gram width must be positive: $n")
    val trainGrams = train
      .select(explode(graft.functions.shingle_string_set(col(trainTextCol), n)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    eval
      .filter(col(evalIdCol).isNotNull)
      .select(col(evalIdCol),
        explode(graft.functions.shingle_string_set(col(evalTextCol), n)).as("__g"))
      .join(trainGrams, Seq("__g"), "left")
      .groupBy(evalIdCol)
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("hit_frac",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Estimated pairwise corpus overlap between groups (sources, languages,
    * shards): per-group MinHash-union sketch via the
    * [[graft.functions.MinHashUnionAgg]] custom aggregate, then signature
    * agreement between group pairs. Shuffle cost: k longs per group —
    * independent of group size, so this profiles overlap across a 100 TB
    * corpus with a sketch-sized shuffle. Output: (group_a, group_b,
    * est_jaccard), group_a < group_b.
    */
  def groupOverlap(
      df: DataFrame, groupCol: String, textCol: String,
      n: Int = 3, k: Int = NumHashes): DataFrame = {
    val sigs = df
      .select(
        col(groupCol).as("__grp"),
        minhashSignature(
          graft.functions.shingle_hash_set(col(textCol), n), k).as("__sig"))
      .groupBy("__grp")
      .agg(graft.functions.minhash_union(col("__sig"), k).as("__gsig"))
      .filter(col("__gsig").isNotNull)
    sigs.as("l").join(sigs.as("r"), col("l.__grp") < col("r.__grp"))
      .select(
        col("l.__grp").as("group_a"), col("r.__grp").as("group_b"),
        graft.functions.minhash_agreement(col("l.__gsig"), col("r.__gsig"))
          .as("est_jaccard"))
  }

  /** EXACT pairwise corpus overlap between groups: per-pair Jaccard of the
    * groups' distinct word-n-gram sets, plus the set sizes. Oracle-grade
    * counterpart of [[groupOverlap]] — plain COUNT(DISTINCT) set algebra,
    * fully distributed: one distinct on (group, shingle-hash), one self
    * equi-join on the hash for intersections (bounded by total shingle
    * occurrences × groups-per-shingle, never |A|·|B|), one tiny
    * size-pair frame. Shingles are hashed to 60-bit longs (md5 truncated)
    * BEFORE the distinct: the shuffle and join carry fixed 8-byte keys
    * instead of raw word n-grams (~an order of magnitude fewer bytes on
    * prose), and the hash is reproducible in the DuckDB oracle
    * (`('0x' || substr(md5(g),1,15))::BIGINT`), so the gate stays exact —
    * distinct counts over hash(shingle) equal distinct counts over the
    * shingles themselves up to hash collisions, and any collision affects
    * engine and oracle identically. At 100 TB the hash self-join is the
    * cost — profile with the sketch path ([[groupOverlap]], k longs per
    * group) and reserve this form for audits; the sketch's error against
    * this exact form is bounded in DedupSpec. Output: (group_a, group_b,
    * n_a, n_b, n_inter, jaccard), group_a < group_b, null groups
    * excluded.
    *
    * Caching contract: the (group, hash) frame is persisted (it feeds the
    * size aggregate and both join sides) and stays cached until
    * `CachedFrames.releaseAll()`, which long-lived sessions call
    * between batches.
    */
  def groupOverlapExact(
      df: DataFrame, groupCol: String, textCol: String, n: Int = 3): DataFrame = {
    val sh = df
      .filter(col(groupCol).isNotNull)
      .select(
        col(groupCol).as("__grp"),
        explode(graft.functions.shingle_string_set(col(textCol), n)).as("__g"))
      // hash before the distinct: the distinct shuffle already moves 8-byte
      // keys, not raw n-grams (md5 truncated to 60 bits — the oracle
      // mirrors it as ('0x' || substr(md5(g),1,15))::BIGINT)
      .select(col("__grp"),
        conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long").as("__h"))
      .distinct()
      // feeds the size aggregate and BOTH sides of the intersection join
      .transform(graft.CachedFrames.cached)
    val sizes = sh.groupBy("__grp").agg(count(lit(1)).as("__n"))
    val inter = sh.as("l")
      .join(sh.as("r"), col("l.__h") === col("r.__h") && col("l.__grp") < col("r.__grp"))
      .groupBy(col("l.__grp").as("group_a"), col("r.__grp").as("group_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.as("a")
      .join(sizes.as("b"), col("a.__grp") < col("b.__grp"))
      .select(
        col("a.__grp").as("group_a"), col("b.__grp").as("group_b"),
        col("a.__n").as("n_a"), col("b.__n").as("n_b"))
    pairs.join(inter, Seq("group_a", "group_b"), "left")
      .select(
        col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        round(coalesce(col("n_inter"), lit(0L)) * 1.0 /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6).as("jaccard"))
  }

  // --- SimHash ---------------------------------------------------------------

  /** 64-bit SimHash over the token multiset: bit j of the signature is the
    * sign of Σ_tokens (bit j of hash(token) ? +1 : −1). One imperative
    * kernel pass per document ([[graft.functions.TextKernels.simhash64]]) —
    * the HOF formulation (fold tokens into a 64-wide bit-sum vector) is
    * interpreted and allocates three 64-element arrays per token.
    * Shuffle-free.
    */
  def simhash64(text: Column): Column =
    graft.functions.simhash64(text)

  /** SimHash near-dup candidates: two docs are candidates when any of the
    * four 16-bit chunks of their signatures match (pigeonhole: Hamming
    * distance ≤ 3 guarantees a shared chunk). Shuffle on (chunkIdx,
    * chunkValue); verify by exact Hamming distance via bit_count(xor).
    */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    // null signatures (zero-token docs) are dropped BEFORE chunk explosion:
    // a shared empty-doc signature would otherwise form one hot bucket
    // pairing all blank docs quadratically (same contract as MinHash).
    val signed = df.select(col(idCol).as("__id"), simhash64(col(textCol)).as("__sh"))
      .filter(col("__sh").isNotNull)
      .transform(graft.CachedFrames.cached)
    val chunks = signed.select(
      col("__id"), col("__sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftrightunsigned", col("__sh"), i * 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("chunk_idx", "chunk_val")))
    val l = chunks.as("l"); val r = chunks.as("r")
    l.join(r,
        col("l.chunk_idx") === col("r.chunk_idx") &&
        col("l.chunk_val") === col("r.chunk_val") &&
        col("l.__id") < col("r.__id"))
      .select(
        col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        bit_count(col("l.__sh").bitwiseXOR(col("r.__sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --- exact n-gram Jaccard via inverted index --------------------------------

  /** Exact all-pairs Jaccard ≥ threshold WITHOUT LSH, via prefix filtering
    * (the AllPairs/PPJoin family, Bayardo et al., WWW'07): under any global
    * token order — here ascending shingle hash, which the sorted sets give
    * for free — two sets with J ≥ t MUST share one of each other's first
    * `|s| − ⌈t·|s|⌉ + 1` tokens. So only that prefix is indexed, the
    * candidate join runs on the prefix inverted index (Σ df_prefix² ≪
    * Σ df² — a naive full-index join goes quadratic the moment documents
    * genuinely overlap, which is exactly when dedup matters), and exact
    * merge-intersect verification runs per candidate pair. Output equals
    * the naive form exactly; MinHash+LSH remains the approximate
    * alternative when even prefix candidates are too many.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = df.select(
      col(idCol),
      graft.functions.shingle_hash_set(col(textCol), n).as("__shingles"))
      .transform(graft.CachedFrames.cached)
    // prefix length: sz − ceil(t·sz) + 1 (0 for empty sets)
    val sz = size(col("__shingles"))
    val prefixLen = greatest(
      sz - ceil(sz * lit(threshold)).cast("int") + lit(1), lit(0))
    val prefix = sets.select(
      col(idCol).as("__id"),
      sz.cast("double").as("__sz"),
      explode(slice(col("__shingles"), lit(1), prefixLen)).as("__sh"))
    // AllPairs length filter at candidate time: J ≥ t ⟹ t·|A| ≤ |B| ≤
    // |A|/t, so size-incompatible bucket-mates never become candidates.
    // Slack by the verify round()'s 1e-6 epsilon (rounded J can cross the
    // threshold where the true ratio doesn't quite).
    val ts = math.max(threshold - 1e-6, 0d)
    val cands = prefix.as("l").join(prefix.as("r"),
        col("l.__sh") === col("r.__sh") && col("l.__id") < col("r.__id") &&
        col("r.__sz") >= col("l.__sz") * ts &&
        col("l.__sz") >= col("r.__sz") * ts)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
    verifyJaccard(cands, sets, idCol, "__shingles")
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs — the overlap coefficient
    * `C = |A∩B| / min(|A|, |B|)` over n-gram shingle sets, thresholded.
    * The containment twin of [[ngramJaccardPairs]]: a short document
    * EMBEDDED in a long one scores C ≈ 1 while its Jaccard is dragged
    * toward |small|/|large| and slips under every near-dup threshold —
    * this is the wrapper-page / quoted-document / boilerplate-shell
    * detector. Candidate generation is the containment form of the
    * prefix filter: `|A∩B| ≥ t·|A|` forces the SMALLER set's first
    * `|A| − ⌈t·|A|⌉ + 1` shingles (global sorted-hash order) to hit the
    * other document somewhere, so the join probes the smaller side's
    * prefix against the full inverted index — no size-ratio pruning
    * exists for containment BY CONSTRUCTION (any size gap is eligible),
    * which is why the full index, token-bound, is the right-hand side.
    * Verification is exact: `size(array_intersect)` over the two hashed
    * sets, one division for the emitted coefficient.
    *
    * Scale shape: the shingle frame persists once; candidate volume is
    * Σ over prefix shingles of document frequency — corpus-wide
    * boilerplate shingles are the hot-key caveat, and `maxShingleDf`
    * fail-fasts on it IN-OP (the [[graft.ops.Similarity.semDedup]]
    * `maxClusterSize` discipline): any shingle whose document frequency
    * exceeds the cap raise_errors with the shingle named, instead of
    * silently fanning df_prefix × df candidate pairs from few tasks.
    * Strip boilerplate upstream (the [[winnowOverlapPairs]] note) or
    * raise the cap deliberately. The df window rides the same `__sh`
    * hash partitioning the index join shuffles on anyway.
    *
    * BREAKING CHANGE (round 13): `maxShingleDf` defaults to 100000 and
    * the guard is ON by default — a corpus with one hotter shingle that
    * previously ran (slowly) now raise_errors unless the cap is raised
    * or `dropOverDfShingles` is set. Deliberate: an unguarded hot
    * shingle at 100 TB is a job-killing task, not a slow one.
    *
    * `dropOverDfShingles` is the report-and-continue alternative (the
    * ccnet move, matching how `blocklist_filter`/`quality_filter`
    * report rather than abort): over-cap shingles are DROPPED FROM THE
    * SHINGLE SETS THEMSELVES — before sizes, prefixes, the index, and
    * the exact verify are computed — and the number of dropped
    * (shingle, doc) set rows is published as the observed metric
    * `ngram_containment_df_guard.n_dropped_shingle_rows`. The filtered
    * sets are CACHED (they feed the prefix, the index, and the exact
    * verify), so the metric fires on the action that first
    * materializes the cache and not again while the cache serves —
    * read it with `Observation` (which waits for the first firing) or
    * from the first action's `QueryExecution.observedMetrics`, not
    * from later runs. Dropping at the SET level is what keeps
    * the PPJoin prefix filter COMPLETE: prefix and index must cover the
    * same shingle universe, or a pair whose prefix window happened to
    * hold only boilerplate would be silently lost even when enough
    * under-cap evidence exists. Semantics under drop: containment is
    * computed over the under-cap shingle universe (boilerplate carries
    * (near-)zero information, so both evidence and sizes exclude it —
    * the standard production trade for web corpora); documents whose
    * every shingle is boilerplate drop out entirely.
    */
  def ngramContainmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = 100000L,
      dropOverDfShingles: Boolean = false): DataFrame = {
    require(threshold > 0d && threshold <= 1d,
      s"threshold must be in (0, 1]: $threshold")
    require(maxShingleDf >= 1, s"maxShingleDf must be positive: $maxShingleDf")
    val rawSets = df.filter(col(idCol).isNotNull)
      .select(col(idCol),
        graft.functions.shingle_hash_set(col(s"`$textCol`"), n).as("__shingles"))
      .filter(size(col("__shingles")) > 0)
    val sets = (
      if (!dropOverDfShingles) rawSets
      else {
        // soft mode: remove over-cap shingles from the SETS before any
        // size/prefix/index derivation (prefix-filter completeness —
        // see the Scaladoc), publishing the drop count. sort_array
        // restores shingle_hash_set's canonical ascending order, which
        // the prefix window is defined over. One extra shuffle pair
        // (explode-window + regroup), both keyed small (__sh, id) —
        // the opt-in cost of continuing past boilerplate.
        val wdf = Window.partitionBy(col("__sh"))
        rawSets
          .select(col(idCol), explode(col("__shingles")).as("__sh"))
          .withColumn("__df", count(lit(1)).over(wdf))
          .observe("ngram_containment_df_guard",
            sum(when(col("__df") > maxShingleDf, 1L).otherwise(0L))
              .as("n_dropped_shingle_rows"))
          .filter(col("__df") <= maxShingleDf)
          .groupBy(col(idCol))
          .agg(sort_array(collect_list(col("__sh"))).as("__shingles"))
      }
    ).transform(graft.CachedFrames.cached)
    val sz = size(col("__shingles"))
    val prefixLen = greatest(
      sz - ceil(sz * lit(threshold)).cast("int") + lit(1), lit(0))
    val prefix = sets.select(
      col(idCol).as("__id"), sz.as("__sz"),
      explode(slice(col("__shingles"), lit(1), prefixLen)).as("__sh"))
    // guard wraps the join key on the index side: the join must read it,
    // so column pruning can never elide the check even under a bare
    // count(); shingle sets are sets, so per-shingle row count IS
    // document frequency
    val indexed = sets.select(
      col(idCol).as("__id"), sz.as("__sz"),
      explode(col("__shingles")).as("__sh"))
    val full =
      if (dropOverDfShingles)
        // soft mode: the sets were df-filtered upstream, so the index is
        // already boilerplate-free — no per-row guard needed
        indexed
      else {
        val wsh = Window.partitionBy(col("__sh"))
        indexed
          .withColumn("__df", count(lit(1)).over(wsh))
          .select(col("__id"), col("__sz"),
            when(col("__df") > maxShingleDf,
              raise_error(concat(
                lit("ngramContainmentPairs: shingle "), col("__sh").cast("string"),
                lit(" occurs in "), col("__df").cast("string"),
                lit(s" documents (> maxShingleDf=$maxShingleDf) — a corpus-wide" +
                  " boilerplate shingle would fan df_prefix × df candidate" +
                  " pairs from few tasks; strip boilerplate upstream, raise" +
                  " the cap deliberately, or set dropOverDfShingles=true to" +
                  " drop-and-report instead"))))
              .otherwise(col("__sh")).as("__sh"))
      }
    // the prefix condition holds on the smaller (or equal) side only
    val cands = prefix.as("l").join(full.as("r"),
        col("l.__sh") === col("r.__sh") && col("l.__id") =!= col("r.__id") &&
        col("l.__sz") <= col("r.__sz"))
      .select(least(col("l.__id"), col("r.__id")).as("id_a"),
        greatest(col("l.__id"), col("r.__id")).as("id_b"))
      .distinct()
    val a = sets.select(col(idCol).as("id_a"), col("__shingles").as("__sa"))
    val b = sets.select(col(idCol).as("id_b"), col("__shingles").as("__sb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("n_shared",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        size(col("__sa")).cast("long").as("size_a"),
        size(col("__sb")).cast("long").as("size_b"),
        round(col("n_shared").cast("double") /
          least(size(col("__sa")), size(col("__sb"))).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Partial-overlap detection via winnowed fingerprints
    * ([[TextStats.winnowFingerprints]] — the MOSS algorithm): pairs of
    * documents sharing at least `minShared` selected fingerprints, with
    * the share count and `overlap` = n_shared / min(|A|, |B|). Where the
    * Jaccard family scores WHOLE-document similarity, this catches a
    * paragraph lifted into an otherwise-different document — any common
    * token run of ≥ w + k − 1 tokens is guaranteed to share a
    * fingerprint, robust to reordering (which defeats
    * [[TextStats.rollingFingerprint]]).
    *
    * Scale shape: the fingerprint frame persists (it feeds the inverted
    * index AND the size join); the index join shuffles (id, fp) pairs
    * whose volume is winnowing-thinned to ~2/(w+1) of full shingling;
    * pair volume is Σ df² over fingerprints — corpus-wide boilerplate
    * runs are the hot-key caveat (same as every exact inverted index
    * here): drop fingerprints above a document-frequency cap upstream,
    * or route bulk near-dup work through MinHash and keep this as the
    * partial-overlap evidence pass.
    */
  def winnowOverlapPairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 3): DataFrame = {
    require(minShared >= 1, s"minShared must be positive: $minShared")
    val fps = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        TextStats.winnowFingerprints(col(s"`$textCol`"), k, w).as("__f"))
      .filter(size(col("__f")) > 0)
      .transform(graft.CachedFrames.cached)
    val inv = fps.select(col("__id"), explode(col("__f")).as("__fp"))
    val sizes = fps.select(col("__id"), size(col("__f")).cast("long").as("__n"))
    val shared = inv.as("l").join(inv.as("r"),
        col("l.__fp") === col("r.__fp") && col("l.__id") < col("r.__id"))
      .groupBy(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("overlap"))
  }

  /** Corpus-level line dedup (the C4/RefinedWeb boilerplate pass): any
    * line occurring more than once ANYWHERE in the corpus survives only
    * at its first occurrence — smallest (id, line position) — and is
    * removed everywhere else; documents are reassembled in original line
    * order. Lines shorter than `minLineLen` characters are exempt (kept
    * everywhere): deduping empty / one-char separator lines would rewrite
    * paragraph structure rather than remove boilerplate. Documents whose
    * every line is removed disappear from the output, and so do NULL-id
    * documents (no reliable identity to reassemble under); all other
    * columns pass through unchanged (a pre-computed length/token column
    * will be stale relative to the rebuilt text — recompute downstream).
    *
    * Scale shape: one groupBy on the line (map-side combine absorbs hot
    * boilerplate lines before the shuffle) producing the first-occurrence
    * winner per line, one equi-join back (AQE handles residual skew), and
    * one groupBy id to reassemble. Reassembly state is bounded by the
    * largest single document, never the corpus.
    */
  def dedupLines(
      df: DataFrame, textCol: String, idCol: String,
      minLineLen: Int = 1): DataFrame = {
    require(minLineLen >= 0, s"negative minLineLen: $minLineLen")
    // null-id docs are out of scope entirely: letting one WIN a first
    // occurrence and then dropping it at the join would erase that line
    // from the whole corpus. The exploded lines persist (library caching
    // contract, see object doc): three subtrees consume them — winners
    // aggregate, kept-join probe, exempt union — and an unpersisted
    // lineage would re-scan and re-explode the corpus for each.
    val lines = df.filter(col(idCol).isNotNull).select(
      col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .transform(graft.CachedFrames.cached)
    val dedupable = lines.filter(length(col("__line")) >= minLineLen)
    val winners = dedupable
      .groupBy("__line")
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val kept = dedupable
      .join(winners, Seq("__line"))
      .filter(col("__first.__id") === col("__id") &&
        col("__first.__pos") === col("__pos"))
      .drop("__first")
      .unionByName(lines.filter(length(col("__line")) < minLineLen))
    val rebuilt = kept
      .groupBy("__id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")),
        "\n").as("__rebuilt"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"))
      .withColumn(textCol, col("__rebuilt"))
      .drop("__id", "__rebuilt")
  }

  /** IN-document repeated-line removal — the doc-level boilerplate trim
    * (complementing corpus-level [[dedupLines]]): within each document,
    * keep the FIRST occurrence of every exact line, preserving order;
    * lines shorter than `minLineLen` are exempt (separator/blank lines
    * repeat legitimately). Pure per-row `aggregate` projection —
    * shuffle-free, trivially partition-parallel; per-doc cost is
    * O(lines × distinct long lines) via the seen-array scan, fine for
    * real documents (use [[dedupLines]]'s explode form if single docs
    * have 10⁵+ distinct lines). Null text passes through as null.
    */
  def dedupLinesWithinDoc(
      df: DataFrame, textCol: String, minLineLen: Int = 1): DataFrame = {
    require(minLineLen >= 0, s"negative minLineLen: $minLineLen")
    val emptyArr = array().cast("array<string>")
    df.withColumn(textCol,
      when(col(textCol).isNotNull,
        array_join(
          aggregate(
            split(col(textCol), "\n"),
            struct(emptyArr.as("seen"), emptyArr.as("out")),
            (acc, x) => {
              val exempt = length(x) < minLineLen
              val dup = array_contains(acc.getField("seen"), x)
              struct(
                when(exempt || dup, acc.getField("seen"))
                  .otherwise(array_append(acc.getField("seen"), x)).as("seen"),
                when(!exempt && dup, acc.getField("out"))
                  .otherwise(array_append(acc.getField("out"), x)).as("out"))
            },
            acc => acc.getField("out")),
          "\n")))
  }

  /** Exact repeated-substring dedup — the span-REMOVAL operator behind
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed set-orientedly (the paper builds a suffix
    * array; a corpus-wide sort-based index and a gram groupBy find the
    * same repeated spans, and the groupBy is what a 1000-executor shuffle
    * does natively). Token n-gram occurrences (whitespace tokens) are
    * keyed by the md5 of the space-joined gram; every occurrence of a
    * gram that appears ≥2 times in the corpus is REDUNDANT unless it is
    * the gram's first occurrence in (id, pos) order. Tokens covered by
    * any redundant occurrence's [pos, pos+n) window are cut and the
    * document is rebuilt from the kept tokens (single-space joined — a
    * rewritten doc's whitespace is normalized; UNTOUCHED docs keep their
    * original text byte-exact). Adjacent/overlapping redundant grams
    * merge naturally because coverage is per-token. Docs with fewer than
    * n tokens, null ids, and null text pass through unchanged. Adds
    * `n_tokens_cut` (BIGINT, 0 for untouched docs).
    *
    * PRECONDITION: `idCol` must be unique (like every id-keyed op here —
    * run [[exactDedup]] first if unsure). The keep-first semantics rank
    * occurrences by (id, pos), and the final rebuild join is id-keyed —
    * duplicate ids would silently fan rows out and multiply
    * `n_tokens_cut`.
    *
    * Scale shape: the only corpus-sized shuffles are the gram groupBy
    * (map-side combined, fixed 32-byte md5 keys regardless of gram
    * width) and the occurrence↔winner equi-join, both bounded by total
    * token count — never pairwise in docs. Coverage folds to ONE array
    * per rewritten doc, so the rebuild is a doc-count-sized join plus a
    * narrow per-row HOF filter (O(tokens × cut positions) per doc —
    * fine for real documents; a doc that is mostly duplicated text is
    * mostly being deleted anyway).
    */
  def exactSubstringDedup(
      df: DataFrame, textCol: String, idCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens: $n")
    val toks = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("__toks"))
    // persist: occurrences feed both the winner aggregate and the join
    // probe (library caching contract, see object doc).
    val occ = toks
      .filter(size(col("__toks")) >= n)
      .select(col("__id"),
        explode(sequence(lit(0), size(col("__toks")) - n)).as("__pos"),
        col("__toks"))
      .select(col("__id"), col("__pos"),
        md5(array_join(slice(col("__toks"), col("__pos") + 1, lit(n)), " "))
          .as("__key"))
      .transform(graft.CachedFrames.cached)
    // grams occurring once drop out at this inner join — only duplicated
    // grams' occurrences flow downstream.
    val dupFirst = occ.groupBy("__key")
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .drop("__c")
    val redundant = occ.join(dupFirst, Seq("__key"))
      .filter(struct(col("__id"), col("__pos")) =!= col("__first"))
    val cut = redundant
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__t"))
      .groupBy("__id")
      .agg(collect_set(col("__t")).as("__cut"))
    val rebuilt = toks.join(cut, Seq("__id"))
      .select(col("__id"),
        array_join(
          filter(col("__toks"), (_, i) => !array_contains(col("__cut"), i)),
          " ").as("__newtext"),
        size(col("__cut")).cast("long").as("__ncut"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left")
      .withColumn(textCol,
        when(col("__newtext").isNotNull, col("__newtext")).otherwise(col(textCol)))
      .withColumn("n_tokens_cut", coalesce(col("__ncut"), lit(0L)))
      .drop("__id", "__newtext", "__ncut")
  }

  /** Cross-document n-gram repetition profile — the diagnostic behind
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): for each document, how many of its
    * DISTINCT token n-grams also occur in at least one other document
    * (`n_shared` of `n_shingles`, plus the ratio `shared_frac`). High
    * fractions flag boilerplate/template docs that survive exact and
    * near dedup. Documents with fewer than n tokens (no shingles) and
    * null-id documents are excluded.
    *
    * Scale shape: distinct shingles explode to (id, shingle) pairs; one
    * groupBy(shingle) with map-side combine counts carrier docs; one
    * join back + groupBy(id) folds the profile. Everything is bounded by
    * total token count — no pairwise doc joins.
    */
  def crossDocShingleProfile(
      df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"shingle width must be positive: $n")
    // persist: the (id, shingle) pairs feed both the carrier-count
    // aggregate and the join probe — without it the shingling and
    // explode run twice over the corpus (library caching contract).
    // Shingles come from the one-pass kernel (same semantics as
    // array_distinct(TextStats.shingles), spec-pinned): the interpreted
    // transform/slice HOF chain measured ~6× slower at sf0.1.
    val pairs = df.filter(col(idCol).isNotNull).select(
      col(idCol).as("__id"),
      explode(graft.functions.shingle_string_set(col(textCol), n)).as("__sh"))
      .transform(graft.CachedFrames.cached)
    val carriers = pairs.groupBy("__sh").agg(count(lit(1)).as("__docs"))
    pairs.join(carriers, Seq("__sh"))
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_shingles").cast("double"), 6))
      .withColumnRenamed("__id", idCol)
  }
}
