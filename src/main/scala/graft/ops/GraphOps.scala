package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph centrality over derived relation graphs (near-dup pair lists,
  * co-occurrence edges, reference links). The dedup family already
  * builds the graphs ([[Dedup.ngramJaccardPairs]],
  * [[Dedup.minhashNearDups]]) and counts their motifs
  * ([[Dedup.triangleStats]]); this module ranks WITHIN them — e.g.
  * "which document is the canonical representative of a near-dup
  * neighborhood" is exactly a centrality question, and PageRank's
  * stationary mass is a principled alternative to min-id
  * representative election when clusters are large and heterogeneous.
  *
  * All arithmetic is int64 fixed-point (rank mass scaled by 1e12,
  * damping as the rational 17/20), so every engine — and the DuckDB
  * oracle — reproduces results bit-exactly: a float power iteration
  * folds neighbor contributions in shuffle order, which no two engines
  * replay identically.
  */
object GraphOps {

  /** Fixed-point rank mass per node at iteration 0: 1.0 ≙ 1e12. */
  val RankScale: Long = 1000000000000L

  /** Damping d = 0.85 as the exact rational 17/20 — the numerator and
    * denominator are applied inside a single int64 DIV so both engines
    * truncate identically.
    */
  val DampNum: Long = 17L
  val DampDen: Long = 20L

  /** Largest per-node rank the next iteration can safely multiply by
    * [[DampNum]] without wrapping int64 — the fail-fast ceiling for
    * [[pageRank]]'s plan-embedded overflow guard (≈5.4e17, i.e. a
    * single node concentrating ≈5.4e5 unit masses of rank).
    */
  val MaxSafeRank: Long = Long.MaxValue / DampNum

  /** Undirected PageRank via `iters` unrolled power-iteration steps in
    * exact int64 fixed-point arithmetic.
    *
    * The edge list is canonicalized (undirected dedup, self-loops and
    * null endpoints dropped), symmetrized into an adjacency relation,
    * and every node starts with [[RankScale]] mass. One step is
    *
    * {{{ r'(u) = (1-d)·S  +  Σ_{v ∈ N(u)} (r(v) · 17) DIV (deg(v) · 20) }}}
    *
    * with S = [[RankScale]], i.e. the standard damped update with the
    * division done once per (neighbor, iteration) in integer math.
    * Nodes outside the edge list do not appear (an isolated document has
    * no centrality story to tell — and keeping the frame edge-bounded is
    * what lets this run on a pair list without ever touching the corpus
    * row count). There are no dangling nodes by construction: every
    * node in the symmetrized adjacency has degree ≥ 1.
    *
    * Scale shape: the adjacency (with each neighbor's degree attached
    * ONCE, up front) is persisted and re-probed each iteration — every
    * iteration is exactly one shuffle of the edge relation (join on the
    * neighbor id + groupBy on the node id, both map-side combinable on
    * the sum). Iterations are a fixed small constant (default 3 — rank
    * separation, not convergence, is what representative election
    * needs), so total cost is `iters` edge-bounded shuffles; for long
    * chains at cluster scale, checkpoint the rank frame every few
    * iterations the same way [[Dedup.connectedComponents]] does.
    *
    * Overflow contract: mass conservation bounds the TOTAL (Σ ranks ≈
    * n·S), but a single hub concentrates up to the damped mass of its
    * whole neighborhood — a star center over D unit-rank leaves holds
    * ≈ D·0.85·S after one step, so a per-node rank can reach
    * [[MaxSafeRank]] = Long.MaxValue/17 (≈5.4e17, ≈5.4e5 unit masses)
    * on exactly the template-heavy near-dup graphs this targets. Each
    * iteration therefore (a) folds the neighbor sum in decimal(38,0) —
    * the sum itself can never silently wrap, matching the DuckDB
    * oracle's HUGEINT fold — and (b) wraps the result in a
    * plan-embedded fail-fast guard (the [[cooccurrenceLift]]
    * `raise_error` pattern): a node whose rank exceeds [[MaxSafeRank]]
    * names itself in the error instead of feeding a wrapped `r·17`
    * into the next step. The guard is an always-true branch on healthy
    * graphs — it costs one codegen comparison per edge, never a pass.
    *
    * Output: `(id, degree, pr)` — `pr` is the fixed-point rank
    * (divide by [[RankScale]].toDouble for the conventional unit-mass
    * reading; kept integral here so oracles hash-match).
    *
    * Caching contract (same as the [[Dedup]] family): the degree table
    * and degree-attached adjacency are persisted and outlive the call —
    * `graft.CachedFrames.releaseAll()` reclaims them in long-lived sessions without touching user caches.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be at least 1: $iters")
    // persist the canonical edge list: the symmetrizing union below reads
    // it from TWO branches, and on a derived edge frame (a near-dup pair
    // pipeline) each branch would re-run the whole upstream candidate
    // join (measured 1.4× the gate on the sf0.1 jaccard graph)
    val e = edges
      .select(least(col(s"`$srcCol`"), col(s"`$dstCol`")).as("a"),
        greatest(col(s"`$srcCol`"), col(s"`$dstCol`")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .transform(graft.CachedFrames.cached)
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("d"))
      .transform(graft.CachedFrames.cached)
    // attach the NEIGHBOR's degree once — each iteration then needs only
    // the rank join, not a second degree join
    val adjd = adj
      .join(deg, Seq("v"))
      .transform(graft.CachedFrames.cached)
    val base = RankScale / DampDen * (DampDen - DampNum) // (1-d)·S exact
    var ranks = deg.select(col("v"), lit(RankScale).as("r"))
    for (_ <- 1 to iters) {
      // fold the neighbor sum in decimal(38,0): a hub's incoming damped
      // mass is bounded only by its neighborhood's TOTAL rank, so an
      // int64 sum could silently wrap on hub-concentrated graphs (and
      // the DuckDB oracle folds in HUGEINT — this keeps the two engines'
      // accumulators equally exact). The decimal total is then gated
      // back to int64 through the fail-fast guard below.
      val folded = adjd.join(ranks, Seq("v"))
        .groupBy(col("u"))
        .agg((lit(base).cast("decimal(38,0)") +
          sum(expr(s"CAST((r * ${DampNum}L) DIV (d * ${DampDen}L)" +
            " AS DECIMAL(38,0))"))).as("rd"))
      // plan-embedded fail-fast (the cooccurrenceLift raise_error
      // pattern): a rank above MaxSafeRank would wrap r·DampNum next
      // step — name the node and die instead of emitting wrong ranks.
      // The guard wraps the node-id column (every downstream consumer
      // joins on it, so column pruning can never elide the check — a
      // guard on the rank value alone would vanish under a count()).
      ranks = folded.select(
        when(col("rd") > lit(java.math.BigDecimal.valueOf(MaxSafeRank)),
          raise_error(concat(
            lit("pageRank: node "), col("u").cast("string"),
            lit(" rank "), col("rd").cast("string"),
            lit(s" exceeds MaxSafeRank=$MaxSafeRank (int64 headroom for" +
              " the x17 damping multiply) — the graph concentrates >~5.4e5" +
              " unit masses on one hub; split the hub neighborhood or" +
              " rescale RankScale down"))))
          .otherwise(col("u")).as("v"),
        col("rd").cast("long").as("r"))
    }
    deg.join(ranks, Seq("v"))
      .select(col("v").as("id"), col("d").as("degree"), col("r").as("pr"))
  }

  /** Market-basket co-occurrence lift: which item pairs appear together
    * in the same basket more often than their popularities predict. The
    * EHR reading is comorbidity mining — basket = patient, item =
    * condition code, and `lift > 1` pairs are the co-morbid conditions
    * (the classic shape of Finlayson et al.'s medical-concept
    * co-occurrence analyses); the same operator over (order, part) is
    * retail affinity, and over (doc, near-dup-cluster) it scores
    * template co-injection.
    *
    * With `n_a` = baskets containing a, `n_ab` = baskets containing
    * both, and N total baskets:
    * {{{ lift(a,b) = (n_ab · N) / (n_a · n_b) }}}
    * — int64 counts, both products < 2^53 for any corpus with
    * < ~9e15·minCount basket-item rows, ONE double division (the
    * [[Dedup]]-family exactness contract: no engine-ordered float
    * folds).
    *
    * Scale shape: membership is deduplicated to distinct (basket, item)
    * FIRST (multiplicity within a basket is not co-occurrence
    * evidence), then A-priori pruning — an item in fewer than
    * `minCount` baskets cannot form a `≥ minCount` pair, so infrequent
    * items (the Zipf tail, most of the volume) never reach the
    * pair-generating self-join. That join shuffles by basket; its
    * output is Σ_b C(k_b, 2) over FREQUENT items per basket — the
    * quadratic term is bounded by the pruning and by real basket
    * sizes, and a hot basket (one patient with hundreds of frequent
    * codes) is AQE skew-split territory up to `maxFrequentPerBasket`,
    * where the plan-embedded guard fails fast with the basket named
    * (the [[TimeSeries.denseCounts]] philosophy) rather than fanning
    * C(k,2) pairs out of one task. The final pair count is map-side
    * combinable. The deduplicated membership frame is persisted and
    * outlives the call (it feeds three consumers) — the same
    * clearCache contract as the [[Dedup]] family. (r20 re-examined
    * this shape against two alternatives and kept it: in-row
    * `transform`-generated pairs measured slower — higher-order-
    * function lambdas evaluate interpreted — and persisting the
    * frequent-membership side measured slower too, because exchange
    * reuse already serves both self-join sides from one shuffle.)
    */
  def cooccurrenceLift(
      df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 2L, maxFrequentPerBasket: Long = 10000L): DataFrame = {
    require(minCount >= 1, s"minCount must be at least 1: $minCount")
    require(maxFrequentPerBasket >= 2,
      s"maxFrequentPerBasket must be at least 2: $maxFrequentPerBasket")
    val b = col(s"`$basketCol`")
    val it = col(s"`$itemCol`")
    val membership = df.filter(b.isNotNull && it.isNotNull)
      .select(b.as("__b"), it.as("__i")).distinct()
      .transform(graft.CachedFrames.cached)
    val itemCounts = membership.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val frequent = itemCounts.filter(col("__c") >= minCount)
    // fail fast on a hot basket BEFORE the self-join fans it out: a
    // single basket with k frequent items contributes C(k,2) pairs — one
    // degenerate "basket" (a catch-all patient id, an ETL sentinel order
    // key) with 10^5 items would emit ~10^10 rows from one task. Same
    // guard philosophy as TimeSeries.denseCounts.maxBucketsPerKey: name
    // the offending key in the error instead of melting an executor.
    // Plan-embedded (a windowed count + raise_error), so it fires in
    // gate/bench runs, not just tests, and costs nothing extra — the
    // count rides the same by-basket exchange the self-join needs.
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))
    // NOT persisted: both self-join sides canonicalize to the same
    // subtree, so exchange reuse already serves the second side from the
    // first side's shuffle output — r20 measured the explicit cache
    // strictly slower (it adds a materialization pass for work reuse
    // the planner provides for free)
    val fm = membership.join(frequent, Seq("__i"))
      .withColumn("__bn", count(lit(1)).over(wB))
      // the guard wraps the ITEM column itself (the denseCounts pattern:
      // an expression the plan consumes cannot be pruned away), so it
      // fires in gate/bench runs too; the windowed count rides the same
      // by-basket exchange the self-join needs anyway
      .withColumn("__i",
        when(col("__bn") > maxFrequentPerBasket,
          raise_error(concat(
            lit("cooccurrenceLift: basket "), col("__b").cast("string"),
            lit(" has "), col("__bn").cast("string"),
            lit(s" frequent items > maxFrequentPerBasket=$maxFrequentPerBasket" +
              " — pre-filter degenerate baskets or raise the cap"))))
          .otherwise(col("__i")))
      .drop("__bn")
    val pairs = fm.select(col("__b"), col("__i").as("item_a"), col("__c").as("__ca"))
      .join(fm.select(col("__b"), col("__i").as("item_b"), col("__c").as("__cb")),
        Seq("__b"))
      .filter(col("item_a") < col("item_b"))
    val nBaskets = membership.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__n"))
    pairs
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"),
        // __ca/__cb are functionally determined by the group key; max is
        // the deterministic way to carry them through the fold
        max(col("__ca")).as("__ca"), max(col("__cb")).as("__cb"))
      .filter(col("n_ab") >= minCount)
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round((col("n_ab") * col("__n")).cast("double") /
          (col("__ca") * col("__cb")).cast("double"), 6).as("lift"))
  }
}
