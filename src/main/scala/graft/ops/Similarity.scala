package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k — a broadcast of the (small)
  * query set against the corpus, so the corpus is scanned once, never
  * shuffled. Scale path: random-hyperplane LSH bucketing — candidates share
  * a bucket key, turning the n×m cross product into a bucket-local join.
  * All arithmetic is double-precision (float inputs are upcast) so results
  * are deterministic and oracle-comparable.
  */
object Similarity {

  /** Dot product of two equal-length array columns, in sequential double
    * precision — a native codegen'd expression
    * ([[graft.functions.expressions.VecDot]]); the HOF formulation
    * (`aggregate(zip_with(...))`) is interpreted per element.
    */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [−1, 1]; null-safe on zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): merge two
    * top-k rankings of one id space into a hybrid ranking with NO score
    * calibration — `rrf_score = Σ_r 1/(k0 + rank_r)`, standard k0 = 60,
    * an id absent from a ranking contributes 0 from it. The canonical
    * BM25 ⊕ embedding-ANN hybrid-retrieval combiner: raw lexical and
    * cosine scores live on incomparable scales, ranks always compare.
    *
    * Inputs are (id, `rankCol`) top-k frames; fusion is one full-outer
    * join plus a global rank over ≤ |a| + |b| rows — both sides are
    * k-bounded by construction, nothing corpus-sized moves. Scores are
    * rounded (6 dp) BEFORE ranking with the id tiebreak, so the order is
    * stable across engines.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String = "rnk", k0: Int = 60, k: Int = 10): DataFrame = {
    require(k0 >= 1, s"k0 must be >= 1: $k0")
    require(k > 0, s"k must be positive: $k")
    val ra = a.select(col(s"`$idCol`"), col(s"`$rankCol`").cast("long").as("__ra"))
    val rb = b.select(col(s"`$idCol`"), col(s"`$rankCol`").cast("long").as("__rb"))
    ra.join(rb, Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(k0.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0.toLong) + col("__rb")), lit(0.0)), 6))
      .withColumn("rrf_rank",
        // unpartitioned window is BOUNDED by construction: both inputs
        // are top-k frames, so this sorts ≤ |a|+|b| ≈ 2k rows (r19
        // window audit: bounded sites stay single-window, documented)
        row_number().over(Window.orderBy(desc("rrf_score"), asc(idCol)))
          .cast("long"))
      .filter(col("rrf_rank") <= k)
      .select(col(s"`$idCol`"), col("__ra").as("rank_a"),
        col("__rb").as("rank_b"), col("rrf_score"), col("rrf_rank"))
  }

  /** Exact top-k nearest neighbors for each query vector.
    *
    * `queries` (small: user queries, centroids, probe sets) is broadcast;
    * the corpus streams through map-side, computing cosine per
    * (query, item) pair, then a single shuffle on query id ranks the top-k.
    * Ranking uses the ROUNDED similarity (6 dp) with the item id as a
    * tiebreak, so results are stable across engines and runs.
    */
  /** Per-dimension centroid drift between a BASE and a CURRENT embedding
    * snapshot — the embedding-space analog of [[Profiling.psi]]: one row
    * per dimension (1-based, matching SQL subscripts) with both means
    * and the signed shift, so a retrained encoder, a corrupted batch, or
    * a population change shows up as WHICH dimensions moved, not just a
    * scalar alarm. Null/empty vectors are excluded; ragged dimensions
    * (from mixed-width corpora) each aggregate over the vectors that
    * have them.
    *
    * Determinism at scale: a float mean is an order-dependent sum, so
    * two runs (or engine vs oracle) disagree in the low bits. Same trade
    * as the IVF/Lloyd codebook: values are quantized to 1/2²⁰ fixed
    * point (`floor(x · 2²⁰)` — exact for the float inputs' magnitude)
    * and summed as int64 — commutative, overflow-safe to ~8.8 T values
    * per dimension — with ONE double division at the end. Shuffle is
    * bounded by dims × partitions (map-side combine); nothing else
    * moves.
    */
  def embeddingDrift(base: DataFrame, current: DataFrame,
      vecCol: String): DataFrame = {
    val Q = 1048576.0 // 2^20, the codebook quantum (ivfTrainCentroids)
    def side(df: DataFrame, sOut: String, nOut: String): DataFrame =
      df.filter(col(s"`$vecCol`").isNotNull && size(col(s"`$vecCol`")) > 0)
        .select(posexplode(col(s"`$vecCol`")).as(Seq("__d0", "__x")))
        .groupBy((col("__d0") + 1).cast("long").as("dim"))
        .agg(sum(floor(col("__x").cast("double") * Q).cast("long")).as(sOut),
          count(lit(1)).as(nOut))
    side(base, "__sb", "__nb")
      .join(side(current, "__sc", "__nc"), Seq("dim"), "full_outer")
      .select(col("dim"),
        round(col("__sb").cast("double") / (col("__nb") * Q), 6).as("base_mean"),
        round(col("__sc").cast("double") / (col("__nc") * Q), 6).as("cur_mean"),
        round(col("__sc").cast("double") / (col("__nc") * Q) -
          col("__sb").cast("double") / (col("__nb") * Q), 6).as("mean_diff"))
      .orderBy("dim")
  }

  /** Pairwise cosine between per-GROUP embedding centroids — "which
    * sources say the same thing": two feeds whose centroids sit at
    * cosine ≈ 1 are semantically redundant and a mixture planner
    * should treat their token budgets as one pool. Exactness: each
    * group's centroid is the vector of exact int64 quantized
    * coordinate sums ([[embeddingDrift]]'s quantum), and because
    * cosine is scale-invariant the 1/(n·Q) mean factors CANCEL — the
    * dot and both norms are computed on the RAW integer sums in
    * decimal(38,0), so no float ever folds across dimensions; each
    * pair spends exactly one division and two correctly-rounded IEEE
    * sqrts at the end. Output one row per unordered group pair:
    * (group_a < group_b, n_vecs_a, n_vecs_b, centroid_cosine).
    *
    * Scale shape: one (group, dim)-keyed combine (the sums frame
    * persists — it feeds the norms and both sides of the pair join),
    * then a dim-keyed join whose output is groups²·dims rows — groups
    * are source-grained (tens), so the pair stage is tiny at any
    * corpus size; the corpus is touched exactly once.
    */
  def groupCentroidSim(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val Q = 1048576.0 // 2^20, the codebook quantum (ivfTrainCentroids)
    val dec = "decimal(38,0)"
    val g = col(s"`$groupCol`")
    val sums = df
      .filter(g.isNotNull && col(s"`$vecCol`").isNotNull &&
        size(col(s"`$vecCol`")) > 0)
      .select(g.cast("string").as("grp"),
        posexplode(col(s"`$vecCol`")).as(Seq("__d", "__x")))
      .groupBy(col("grp"), col("__d"))
      .agg(sum(floor(col("__x").cast("double") * Q).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .transform(graft.CachedFrames.cached)
    val norms = sums.groupBy(col("grp"))
      .agg(sum(expr(s"CAST(__s AS $dec) * CAST(__s AS $dec)")).as("__n2"),
        max(col("__n")).as("n_vecs"))
    val dots = sums.as("a").join(sums.as("b"),
        col("a.__d") === col("b.__d") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("group_a"), col("b.grp").as("group_b"))
      .agg(sum(col("a.__s").cast(dec) * col("b.__s").cast(dec)).as("__dot"))
    dots
      .join(norms.select(col("grp").as("group_a"), col("__n2").as("__na2"),
        col("n_vecs").as("n_vecs_a")), Seq("group_a"))
      .join(norms.select(col("grp").as("group_b"), col("__n2").as("__nb2"),
        col("n_vecs").as("n_vecs_b")), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_vecs_a"),
        col("n_vecs_b"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na2").cast("double")) *
            sqrt(col("__nb2").cast("double"))), 6).as("centroid_cosine"))
  }

  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val joined = c.join(q,
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
    val scored = joined.select(
      col("query_id"), col("neighbor_id"),
      round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining (the contrastive-training curation step —
    * DPR/SimCSE-style): for each query, the top-k MOST similar corpus
    * vectors whose similarity stays BELOW `dupCut` — similar enough to
    * be informative negatives, not so similar that they are duplicates
    * or unlabeled positives (the false-negative poisoning the cut
    * exists to avoid). Same plan as [[bruteForceTopK]] — queries
    * broadcast, corpus scanned once, one query-keyed rank shuffle —
    * with the near-positive band excluded before ranking; at corpus
    * scale route candidates through the LSH/IVF/PQ paths first and
    * apply the same cut to their candidate sets.
    */
  def hardNegatives(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dupCut: Double): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
      .filter(col("cosine_sim") < dupCut)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // --- random-hyperplane LSH (the 100 TB path) -------------------------------

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * SplitMix64 mapped to [−1, 1]. Computed driver-side into literal
    * arrays — no RNG state, no per-row regeneration; executors see plain
    * constants in the plan.
    */
  private def planeComponent(plane: Int, d: Int): Double =
    java.lang.Math.floorMod(
      graft.functions.TextKernels.mix64(plane * graft.functions.TextKernels.Gamma + d),
      2000001L).toDouble / 1000000.0 - 1.0

  /** LSH bucket signature: one sign bit per hyperplane, packed into a long.
    * Vectors with high cosine land in the same bucket with probability
    * (1 − θ/π) per plane. Each projection is one codegen'd [[dot]] against
    * a constant plane array. `planeOffset` selects an independent plane
    * family. Literal-plane formulation — kept for single-bucket callers
    * and as the reference the [[lshKeys]] kernel is spec-checked against;
    * multi-table paths use the kernel (m·L plane families as literals
    * bloat the plan past what Spark can print and risk codegen fallback).
    */
  def hyperplaneBucket(vec: Column, dim: Int, numPlanes: Int = 12, planeOffset: Int = 0): Column = {
    val bits = (0 until numPlanes).map { p =>
      val plane = array((0 until dim).map(d => lit(planeComponent(planeOffset + p, d))): _*)
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All `numTables` bucket keys of a vector, one per independent plane
    * family, table index packed into the high bits so keys never collide
    * across tables. One kernel call per row
    * ([[graft.functions.expressions.LshKeys]]) — the plane matrix is
    * derived inside the kernel from the same SplitMix64 scheme as
    * [[hyperplaneBucket]]'s literals (identical keys; SimilaritySpec pins
    * the equivalence), so the plan carries 1 expression node instead of
    * m·L·dim constant doubles.
    */
  private def lshKeys(vec: Column, dim: Int, numPlanes: Int, numTables: Int): Column =
    graft.functions.lsh_keys(vec, dim, numPlanes, numTables)

  /** Approximate NN via multi-table LSH: `numTables` independent plane
    * families of `numPlanes` sign bits each; candidates are pairs sharing
    * ANY table's bucket; exact cosine ranks the candidate set.
    *
    * One table is not enough: with per-plane agreement p = 1 − θ/π, a
    * single m-bit table recalls p^m — for neighbors at 70–80° (typical
    * of noisy corpora) that is ~1–2%. L tables recall 1 − (1−p^m)^L,
    * tunable to any target; a random pair collides in ≥1 table with
    * probability 1 − (1 − (1/2)^m)^L, so candidate reduction needs m
    * large enough for that to be ≪ 1. NOTE: small-m configs (e.g. m=4,
    * L=16 → 1 − (15/16)^16 ≈ 64% of the cross product) are
    * near-brute-force — fine for small noisy bench corpora where recall
    * dominates, but at scale raise m (8–16) and compensate recall with L.
    *
    * Plan shape: the explode ships only (bucket_key, id) — n·L tuples,
    * never vectors; after the bucket equi-join and candidate `distinct`,
    * vectors join back once per candidate for exact scoring. Shuffles are
    * all on keys/ids — the corpus vector table is scanned twice and never
    * replicated L times.
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numPlanes: Int = 8, numTables: Int = 8): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val cKeys = c.select(col("neighbor_id"),
      explode(lshKeys(col("__cv"), dim, numPlanes, numTables)).as("__key"))
    val qKeys = q.select(col("query_id"),
      explode(lshKeys(col("__qv"), dim, numPlanes, numTables)).as("__key"))
    val candidates = cKeys.join(qKeys, Seq("__key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    candidates
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-query recall of an approximate top-k result against the exact
    * [[bruteForceTopK]] ground truth: |ann ∩ exact| / |exact| (both sides
    * deterministic, so this is a reproducible quality metric, not a
    * statistical estimate). Output: (query_id, n_exact, n_hit, recall).
    */
  private def recallAgainstExact(exact: DataFrame, ann: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(
        ann.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) * 1.0 / col("n_exact"), 4).as("recall"))
  }

  /** Certify an aggregate recall floor IN the result: every row carries
    * `mean_recall` (over the query set), the `floor`, and `pass`; when the
    * floor is violated `pass` raise_errors instead of returning false, so a
    * recall regression FAILS the gate (visible to the driver as an error)
    * rather than shipping plausible-looking rows. The unpartitioned window
    * is a deliberate single-partition pass over the diagnostic-sized query
    * set (recall frames are ≤ queries rows, never corpus-sized).
    */
  def certifyRecallFloor(rec: DataFrame, floor: Double): DataFrame = {
    val w = Window.partitionBy()
    rec
      .withColumn("mean_recall", round(avg(col("recall")).over(w), 4))
      .withColumn("floor", lit(floor))
      .withColumn("pass",
        when(col("mean_recall") >= col("floor"), lit(true))
          .otherwise(raise_error(concat(
            lit(s"recall floor $floor violated: mean_recall="),
            col("mean_recall").cast("string")))))
  }

  /** Recall of [[lshTopK]] vs exact — an LSH configuration that returned
    * garbage buckets would show up here as recall ≈ k/n instead of ≈ 1.
    */
  def annRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numPlanes: Int = 8, numTables: Int = 8): DataFrame =
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      lshTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, dim, k,
        numPlanes, numTables))

  // --- random-projection (Johnson–Lindenstrauss) dim reduction --------------

  /** Deterministic ±1 sign for projection component (j, i): high nibble
    * of the first md5 byte of `"rp j i"`. md5-derived (not SplitMix64
    * like the LSH planes) so an oracle can rebuild the ENTIRE sign
    * matrix in SQL — `md5('rp ' || j || ' ' || i)` — with no
    * engine-side dump and no int64-overflow arithmetic.
    */
  private[graft] def rpSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp $j $i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random-SIGN projection (Achlioptas 2003:
    * ±1/√k entries preserve pairwise distances with the same guarantee
    * as Gaussian projections): dim → outDim with r[j] = Σᵢ sign(j,i)·
    * v[i]/√outDim. THE scale lever for the vector ops: reduce 1536-dim
    * embeddings to 16–64 before LSH/IVF/brute-force and every downstream
    * shuffle, cache, and dot product shrinks by dim/outDim — at 100 TB
    * the projection is a narrow per-row map (no shuffle) that pays for
    * itself in the first join. The sign matrix lives in the plan as
    * outDim literal arrays (same plan-size regime as
    * [[hyperplaneBucket]]'s literals — fine to ~10⁴ entries; derive a
    * kernel à la [[graft.functions.expressions.LshKeys]] beyond that).
    * Null vectors project to null.
    */
  def reduceDims(df: DataFrame, vecCol: String, dim: Int, outDim: Int,
      outCol: String = "reduced"): DataFrame = {
    require(dim >= 1 && outDim >= 1, s"bad dims: $dim -> $outDim")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planes = (0 until outDim).map { j =>
      array((0 until dim).map(i => lit(rpSign(j, i) * scale)): _*)
    }
    // null IN → null OUT (a bare array(dot...) would yield an array OF
    // nulls, which blows up non-nullable-element encoders downstream)
    df.withColumn(outCol,
      when(col(vecCol).isNull, lit(null))
        .otherwise(array(planes.map(p => dot(col(vecCol), p)): _*)))
  }

  /** Recall of brute-force top-k in the REDUCED space vs the full space —
    * the quantitative check that an outDim choice keeps enough geometry.
    * Both rankings are [[bruteForceTopK]] (rounded-cosine + id tiebreak,
    * fully oracle-replayable since the sign matrix is md5-derived).
    */
  def rpRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, outDim: Int, k: Int): DataFrame = {
    val rc = reduceDims(corpus, corpusVec, dim, outDim, "__rv")
    val rq = reduceDims(queries, queryVec, dim, outDim, "__rv")
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      bruteForceTopK(rc, corpusId, "__rv", rq, queryId, "__rv", k))
  }

  // --- IVF (inverted-file) ANN — the bucketed alternative to LSH -----------

  /** Deterministic IVF seed centroids: the `numCentroids` corpus vectors
    * with the smallest ids. Seeded-by-id keeps every run/oracle comparison
    * reproducible with no RNG; [[ivfTrainCentroids]] then runs Lloyd
    * rounds from this seed.
    */
  private def ivfCentroids(c: DataFrame, numCentroids: Int): DataFrame =
    c.orderBy(col("neighbor_id")).limit(numCentroids)
      .select(col("neighbor_id").as("centroid_id"), col("__cv").as("__cent"))

  /** Exact-arithmetic scale for Lloyd means: components are floored to
    * 2^-20 grid longs before summing, so the per-cluster mean is exact
    * integer arithmetic — deterministic under ANY aggregation order (a
    * straight double sum is order-dependent across shuffles, which would
    * break run-to-run and engine-vs-oracle reproducibility). Scaling a
    * float by a power of two is exact in double.
    */
  private val LloydScale = 1048576.0

  /** Lloyd-trained IVF codebook: `iters` rounds of assign → per-cluster
    * mean from the seeded-by-id init.
    *
    * The codebook (K × dim doubles — KB-scale, broadcast-footprint by
    * definition) lives on the DRIVER between rounds, exactly like MLlib's
    * KMeans and the Bloom-sketch pattern in [[Dedup.dedupAgainstHistory]]:
    * each round is one distributed job (map-side argmax against the
    * broadcast codebook, then a (centroid, dim) aggregation of
    * grid-scaled component sums) whose K·dim-row result collects back.
    * The fully-lazy formulation (codebook as a nested DataFrame plan) was
    * measured 2-3× slower end-to-end: every consumer of the final
    * codebook re-plans the whole training chain, and each round adds ~6
    * sequential stage barriers. The corpus itself never collects.
    *
    * Clusters that lose all members drop out (their centroid vanishes),
    * which real k-means implementations handle by re-seeding — at the
    * engine's scale the deterministic drop is the simpler contract and
    * the oracle mirrors it. Trained centroids fix the hot-bucket skew of
    * raw seeded centroids: the codebook spreads toward the data's actual
    * modes, balancing the inverted lists (SCALING.md names unbalanced
    * codebooks as THE IVF skew risk at 100 TB). All mean arithmetic is
    * exact grid-scaled int64 (floor(x·2^20) summed as longs, one double
    * division at the end) — deterministic under any aggregation order and
    * replayed bit-exactly by the DuckDB oracle.
    */
  private[graft] def ivfTrainCentroids(
      c0: DataFrame, numCentroids: Int, iters: Int): DataFrame = {
    val spark = c0.sparkSession
    // the corpus plan is evaluated ~2× per round (assignment + mean join)
    // plus once for the seed — persist it for the duration of training so
    // an expensive derived corpus isn't recomputed 2·iters+1 times, and
    // release it before returning (the returned codebook is a local frame
    // with no lineage into c)
    val c = c0.transform(graft.CachedFrames.cached)
    try {
      var codebook: Seq[(Long, Seq[Double])] =
        ivfCentroids(c, numCentroids)
          .select(col("centroid_id"), col("__cent").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
          .toSeq
      def frame(cb: Seq[(Long, Seq[Double])]): DataFrame = {
        import spark.implicits._
        cb.toDF("centroid_id", "__cent")
      }
      for (_ <- 1 to iters) {
        val assigned = ivfAssign(c, "neighbor_id", "__cv", frame(codebook))
        codebook = c.join(assigned, "neighbor_id")
          .select(col("centroid_id"),
            posexplode(col("__cv")).as(Seq("__d", "__x")))
          .groupBy("centroid_id", "__d")
          .agg(
            sum(floor(col("__x") * LloydScale).cast("long")).as("__s"),
            count(lit(1)).as("__n"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val v = new Array[Double](dim)
            // same IEEE ops as the oracle's s / (n * 1048576.0)
            rows.foreach(r => v(r.getInt(1)) = r.getLong(2) / (r.getLong(3) * LloydScale))
            (cid, v.toSeq)
          }
          .toSeq.sortBy(_._1)
      }
      frame(codebook)
    } finally c.unpersist(blocking = false)
  }

  /** Standalone Lloyd-trained codebook over a raw (id, vector) frame —
    * the shareable artifact behind every IVF-family consumer. Training a
    * codebook is the expensive phase of [[ivfTopK]] / [[kmeansClusters]] /
    * [[semDedup]] (each Lloyd round is a full corpus pass plus a driver
    * collect of K×dim grid sums); when several queries index the SAME
    * corpus with the SAME (k, iters) config, train ONCE here and inject
    * the result through those operators' `centroids` parameter — the
    * trainer is deterministic (seeded-by-id init, exact grid-int64
    * means), so an injected codebook is bit-identical to the one each
    * consumer would have trained itself, and every oracle replay stays
    * valid. Output: `(centroid_id, __cent)` — K rows, KB-scale, a local
    * frame safe to collect/memoize/broadcast.
    */
  def ivfCodebook(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val c = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    if (iters <= 0) ivfCentroids(c, k) else ivfTrainCentroids(c, k, iters)
  }

  /** Nearest-centroid assignment: broadcast the (tiny) centroid table,
    * score every vector against all centroids map-side, keep the argmax
    * via `max(struct(cos, −centroid_id))` — deterministic tiebreak, and
    * the aggregation is partial (map-side combine), so the only shuffle
    * carries ONE row per vector. Nothing collects to the driver.
    */
  private def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(
        col(idCol),
        struct(
          round(cosine(col(vecCol), col("__cent")), 6).as("c"),
          (-col("centroid_id")).as("nc")).as("__s"))
      .groupBy(col(idCol))
      .agg(max(col("__s")).as("__best"))
      .select(col(idCol), (-col("__best.nc")).cast("long").as("centroid_id"),
        col("__best.c").as("__ccos"))

  /** K-means topic clustering over an embedding column, exposed as a
    * first-class curation op (domain discovery, cluster-balanced
    * sampling, SemDeDup-style pruning all start from this assignment).
    * Same deterministic machinery as the IVF index build — seeded-by-id
    * init, `iters` exact-arithmetic Lloyd rounds ([[ivfTrainCentroids]]),
    * broadcast-argmax assignment — so the DuckDB oracle replays training
    * bit-exactly via the shared grid-scaled-mean CTE fragment.
    *
    * Output: one row per vector — (id, `cluster_id`, `centroid_cos` =
    * rounded cosine to its centroid, the confidence/margin signal).
    * Scale shape: codebook is K×dim KB-scale broadcast; each Lloyd round
    * and the final assignment shuffle ONE row per vector; nothing
    * driver-side but the codebook itself.
    */
  def kmeansClusters(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val c = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val cents = centroids.getOrElse(
      if (iters <= 0) ivfCentroids(c, k) else ivfTrainCentroids(c, k, iters))
    ivfAssign(c, "neighbor_id", "__cv", cents)
      .select(col("neighbor_id").as(idCol), col("centroid_id").as("cluster_id"),
        col("__ccos").as("centroid_cos"))
  }

  /** Approximate NN via IVF: corpus vectors are bucketed under their
    * nearest centroid (the inverted file); each query probes its `nProbe`
    * nearest centroids and exact-scores only those buckets.
    *
    * Plan shape at scale: centroid table is broadcast (numCentroids ≪ n);
    * assignment shuffles n (id, centroid_id) rows; the candidate join is a
    * plain equi-join on centroid_id, so candidates ≈ n·(nProbe/K) per
    * query with NO per-pair fan-out beyond the probed buckets — each
    * neighbor lives in exactly one bucket, so no candidate dedup is needed
    * (LSH needs a `distinct`). `nProbe = numCentroids` degrades exactly to
    * [[bruteForceTopK]] (spec-pinned). Caveat mirrored from real IVF: an
    * unbalanced codebook (hot centroid) skews the join — at 100 TB train
    * better centroids or split hot buckets; seeded-by-id centroids are a
    * bench-corpus simplification.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      trainIters: Int = 2, centroids: Option[DataFrame] = None): DataFrame = {
    val c = corpus
      .filter(col(corpusId).isNotNull && col(corpusVec).isNotNull)
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val q = queries
      .filter(col(queryId).isNotNull && col(queryVec).isNotNull)
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val cents = centroids.getOrElse(
      if (trainIters <= 0) ivfCentroids(c, numCentroids)
      else ivfTrainCentroids(c, numCentroids, trainIters))
    val inverted = c.join(ivfAssign(c, "neighbor_id", "__cv", cents), "neighbor_id")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(desc("__ccos"), asc("centroid_id"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("__qv"), col("centroid_id"),
        round(cosine(col("__qv"), col("__cent")), 6).as("__ccos"))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "__qv", "centroid_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    probes.join(inverted, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact-shape top-k in the COMPRESSED domain: both sides quantize to
    * int8 ([[graft.functions.quantize_int8]]) and similarity is computed
    * from exact integer dot products of the codes — the per-vector scales
    * cancel in cosine, so `cos_q = dot8(a,b) / (√dot8(a,a)·√dot8(b,b))`
    * needs no dequantization at all. Same broadcast/rank plan as
    * [[bruteForceTopK]], but the corpus side streams 1-byte codes instead
    * of 4-byte floats — the 4× scan-bandwidth/memory lever at 100 TB,
    * costing only quantization noise (recall vs exact gated by
    * [[quantizedRecall]]).
    */
  def quantizedTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.{quantize_int8, vec_dot_int8}
    def coded(df: DataFrame, id: String, vec: String, idOut: String, qOut: String): DataFrame =
      df.select(col(id).as(idOut), quantize_int8(col(vec)).getField("q").as(qOut))
    val q = broadcast(coded(queries, queryId, queryVec, "query_id", "__qq"))
    val c = coded(corpus, corpusId, corpusVec, "neighbor_id", "__cq")
    val joined = c.join(q,
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
    val num = vec_dot_int8(col("__qq"), col("__cq")).cast("double")
    val den = sqrt(vec_dot_int8(col("__qq"), col("__qq")).cast("double")) *
      sqrt(vec_dot_int8(col("__cq"), col("__cq")).cast("double"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    joined
      .select(col("query_id"), col("neighbor_id"),
        round(when(den > 0, num / den), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Recall of [[quantizedTopK]] vs the full-precision exact ground
    * truth — quantifies what the 4× compression costs in ranking quality.
    */
  def quantizedRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame =
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      quantizedTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k))

  /** Recall of [[ivfTopK]] vs exact ground truth. */
  def ivfRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      trainIters: Int = 2, centroids: Option[DataFrame] = None): DataFrame =
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      ivfTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k,
        numCentroids, nProbe, trainIters, centroids))

  // --- product quantization (PQ) ----------------------------------------

  /** Per-subvector slices `(subspace, __sv)` of a vector column — the
    * shared decomposition every PQ stage uses (`dim` must divide evenly
    * into `numSubspaces` contiguous pieces).
    */
  private def pqPieces(vecCol: String, dim: Int, numSubspaces: Int) = {
    val sub = dim / numSubspaces
    explode(array((0 until numSubspaces).map(s => struct(
      lit(s).as("subspace"),
      expr(s"slice(`$vecCol`, ${s * sub + 1}, $sub)")
        .cast("array<double>").as("__sv"))): _*))
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI'11):
    * the vector space is split into `numSubspaces` contiguous
    * subspaces and each gets its OWN `numCentroids`-entry codebook,
    * trained with the SAME seeded-by-id, exact-grid-int64 Lloyd
    * machinery as the IVF index ([[ivfTrainCentroids]] — deterministic
    * under any aggregation order, replayable by an external engine).
    * A vector then compresses to `numSubspaces` small codes —
    * `numCentroids ≤ 256` means ONE BYTE per subspace, e.g. 64 floats
    * (256 bytes) → 4 bytes at m=4: the memory lever beyond int8's 4×,
    * at the cost of quantization recall (measure with [[pqRecall]]).
    * Output: `(subspace, centroid_id, __cent)` — m·k rows, KB-scale,
    * broadcast-footprint by construction.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numSubspaces: Int, numCentroids: Int,
      iters: Int = 2): DataFrame = {
    require(numSubspaces >= 1 && dim % numSubspaces == 0,
      s"dim=$dim must split evenly into numSubspaces=$numSubspaces")
    val sub = dim / numSubspaces
    // r20 (guide §2.6 "overlap independent jobs"): each subspace's Lloyd
    // training is an independent chain of driver-sequenced jobs (seed
    // collect + per-round assign/mean collects) whose stage barriers
    // leave most cores idle at codebook scale — submit the m subspaces
    // from a small thread pool so one subspace's tail back-fills the
    // others. Results are position-identical to the sequential loop:
    // subspaces share nothing, every mean is exact grid-int64, and the
    // output order is the subspace index, not completion order.
    // Bounded failure (graft.FanOut): the first failed subspace cancels
    // every sibling's jobs before the call rethrows.
    graft.FanOut(df.sparkSession.sparkContext, "pqTrain")((0 until numSubspaces).map { s =>
      s"pqTrain subspace $s" -> { () =>
        val c = df
          .filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull &&
            size(col(s"`$vecCol`")) === dim)
          .select(col(s"`$idCol`").cast("long").as("neighbor_id"),
            expr(s"slice(`$vecCol`, ${s * sub + 1}, $sub)").cast("array<double>").as("__cv"))
        ivfTrainCentroids(c, numCentroids, iters).withColumn("subspace", lit(s))
      }
    }).reduce(_.unionByName(_))
      .select(col("subspace"), col("centroid_id"), col("__cent"))
  }

  /** PQ encoding: per (vector, subspace), the nearest codebook entry
    * (max rounded cosine, centroid-id tiebreak — the [[ivfTopK]]
    * assignment convention). Codebooks broadcast; the only shuffle
    * carries one row per (vector, subspace). Output:
    * `(<idCol>, subspace, code)`.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      numSubspaces: Int, codebooks: DataFrame): DataFrame = {
    df.filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull &&
        size(col(s"`$vecCol`")) === dim)
      .select(col(s"`$idCol`").cast("long").as("__pqid"),
        pqPieces(vecCol, dim, numSubspaces).as("__e"))
      .select(col("__pqid"), col("__e.subspace").as("subspace"),
        col("__e.__sv").as("__sv"))
      .join(broadcast(codebooks), Seq("subspace"))
      .select(col("__pqid"), col("subspace"),
        struct(round(cosine(col("__sv"), col("__cent")), 6).as("c"),
          (-col("centroid_id")).as("nc")).as("__s"))
      .groupBy(col("__pqid"), col("subspace"))
      .agg(max(col("__s")).as("__best"))
      .select(col("__pqid").as(idCol), col("subspace"),
        (-col("__best.nc")).cast("long").as("code"))
  }

  /** Approximate NN via PQ asymmetric distance computation (ADC) with
    * exact re-ranking — the production PQ pipeline:
    *
    *  1. train per-subspace codebooks ([[pqTrain]]), encode the corpus
    *     to `numSubspaces` codes per vector ([[pqEncode]]);
    *  2. per query, a LOOKUP TABLE of partial dot products
    *     `dot(q_sub, centroid)` for every (subspace, centroid) — `m·k`
    *     values per query, broadcast-tiny;
    *  3. ADC scan: each corpus code row joins its LUT entry and the
    *     per-(query, vector) score is the SUM of partials — dot
    *     products decompose over contiguous subspaces, so ADC
    *     approximates `dot(q, x)` with the corpus side never touching
    *     floats. Partials are floored to the 2⁻²⁰ grid and summed as
    *     int64 — exact under any aggregation order (the Lloyd-mean
    *     determinism contract), so candidate ranking is engine-exact;
    *  4. exact re-rank: the top `candK` ADC candidates per query (and
    *     only those) are re-scored with full-precision cosine; top `k`
    *     emitted in [[ivfTopK]]'s output shape.
    *
    * Scale shape: codebooks and LUT broadcast (m·k and Q·m·k rows);
    * the ADC scan shuffles one (query, vector) partial row per corpus
    * code — map-side combinable sum, corpus floats scanned ONCE at
    * encode time and never again until the candK·Q re-rank join. The
    * compressed corpus (m bytes/vector at k ≤ 256) is the scan-memory
    * lever beyond [[quantizedTopK]]'s int8; recall costs are measured,
    * not assumed ([[pqRecall]] — re-ranking recovers most of them).
    */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numSubspaces: Int = 4, numCentroids: Int = 16,
      candK: Int = 50, trainIters: Int = 2,
      codebooks: Option[DataFrame] = None): DataFrame = {
    require(candK >= k, s"candK=$candK must cover k=$k")
    val cb = codebooks.getOrElse(pqTrain(corpus, corpusId, corpusVec, dim,
      numSubspaces, numCentroids, trainIters))
    val codes = pqEncode(corpus, corpusId, corpusVec, dim, numSubspaces, cb)
      .withColumnRenamed(corpusId, "neighbor_id")
    val q = queries
      .filter(col(s"`$queryId`").isNotNull && col(s"`$queryVec`").isNotNull &&
        size(col(s"`$queryVec`")) === dim)
      .select(col(s"`$queryId`").cast("long").as("query_id"),
        col(s"`$queryVec`").as("__qv"))
    val lut = q
      .select(col("query_id"), pqPieces("__qv", dim, numSubspaces).as("__e"))
      .select(col("query_id"), col("__e.subspace").as("subspace"),
        col("__e.__sv").as("__sqv"))
      .join(broadcast(cb), Seq("subspace"))
      .select(col("query_id"), col("subspace"),
        col("centroid_id").as("code"),
        floor(dot(col("__sqv"), col("__cent")) * lit(LloydScale))
          .cast("long").as("__part"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(desc("__adc"), asc("neighbor_id"))
    val cand = codes
      .join(broadcast(lut), Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__part")).as("__adc"))
      .withColumn("__rn", row_number().over(wCand))
      .filter(col("__rn") <= candK)
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(s"`$corpusId`").cast("long").as("neighbor_id"),
      col(s"`$corpusVec`").as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    cand
      .join(cv, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Recall of [[pqTopK]] vs exact ground truth — what m-byte
    * compression plus ADC candidate generation costs after re-ranking.
    */
  def pqRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numSubspaces: Int = 4, numCentroids: Int = 16,
      candK: Int = 50, trainIters: Int = 2,
      codebooks: Option[DataFrame] = None): DataFrame =
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      pqTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        dim, k, numSubspaces, numCentroids, candK, trainIters, codebooks))

  // --- IVF-PQ residual index (IVFADC) -------------------------------------

  /** Per-vector residuals against a coarse codebook: each vector is
    * assigned to its nearest centroid ([[ivfAssign]] — broadcast argmax,
    * rounded-cosine + centroid-id tiebreak) and the output carries
    * `x − c(x)` componentwise. Output: `(<idCol>, centroid_id, __rv)`.
    * The subtraction is plain IEEE double (inputs widened from float
    * exactly), so an external engine replays it bit-exactly — the
    * determinism contract every downstream grid-int64 stage inherits.
    */
  def ivfResiduals(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val c = df
      .filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull)
      .select(col(s"`$idCol`").cast("long").as("__rid"),
        col(s"`$vecCol`").cast("array<double>").as("__cv"))
    c.join(ivfAssign(c, "__rid", "__cv", centroids)
        .select(col("__rid"), col("centroid_id")), "__rid")
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("__rid").as(idCol), col("centroid_id"),
        zip_with(col("__cv"), col("__cent"), (x, m) => x - m).as("__rv"))
  }

  /** Residual PQ codebooks for the IVFADC index (Jégou, Douze & Schmid,
    * TPAMI'11 §IV): per-subspace codebooks trained on the POOLED
    * residuals `x − c(x)` rather than raw vectors — residuals
    * concentrate around the origin regardless of which coarse cell a
    * vector lives in, so one shared m×k codebook quantizes them far
    * tighter than it could the raw space. Same deterministic trainer as
    * every codebook in the engine ([[pqTrain]] → exact-grid Lloyd).
    * Output: `(subspace, centroid_id, __cent)`, broadcast-footprint.
    */
  def ivfpqTrain(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numSubspaces: Int, numCentroids: Int,
      coarse: DataFrame, iters: Int = 2): DataFrame =
    pqTrain(
      ivfResiduals(
        df.filter(size(col(s"`$vecCol`")) === dim), idCol, vecCol, coarse),
      idCol, "__rv", dim, numSubspaces, numCentroids, iters)

  /** Approximate NN via IVFADC — the canonical billion-vector layout
    * (FAISS `IVFx,PQy`): coarse IVF cells bound the search to `nProbe`
    * inverted lists, and within them candidates are ranked by PQ codes
    * of the RESIDUAL vs the cell centroid, scored asymmetrically:
    *
    *  1. coarse: assign corpus vectors to their nearest of
    *     `numCentroids` cells; PQ-encode each vector's residual with
    *     the shared residual codebooks ([[ivfpqTrain]]);
    *  2. per query: probe the `nProbe` nearest cells, carrying the
    *     grid-floored CELL TERM `⌊dot(q, c)·2²⁰⌋` — dot decomposes as
    *     `dot(q, x) = dot(q, c) + dot(q, x−c)`, so the per-cell
    *     constant rides along instead of being re-derived per pair;
    *  3. LUT: `⌊dot(q_s, r̂)·2²⁰⌋` for every (subspace, residual
    *     centroid) — m·k longs per query, broadcast;
    *  4. ADC scan: candidates = codes in probed cells; score =
    *     cell term + Σ_s LUT[s, code_s] — exact int64 arithmetic, so
    *     candidate ranking is order-independent and replayable;
    *  5. exact re-rank of the top `candK` per query, top `k` emitted
    *     in [[ivfTopK]]'s output shape.
    *
    * Scale shape: coarse + residual codebooks and the per-query
    * probes/LUT broadcast (K + m·k + Q·(nProbe + m·k) rows); the scan
    * touches only probed cells' code rows (n·m·nProbe/K joined rows),
    * map-side-combinable into one (query, vector) row; corpus floats
    * are read once at encode time and again only for the Q·candK
    * re-rank join. `nProbe = numCentroids` with `candK ≥ n` degrades
    * exactly to [[bruteForceTopK]] (spec-pinned).
    */
  def ivfpqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      numSubspaces: Int = 4, pqCentroids: Int = 16, candK: Int = 50,
      trainIters: Int = 2, coarse: Option[DataFrame] = None,
      residualCodebooks: Option[DataFrame] = None): DataFrame = {
    require(candK >= k, s"candK=$candK must cover k=$k")
    val c = corpus
      .filter(col(s"`$corpusId`").isNotNull && col(s"`$corpusVec`").isNotNull &&
        size(col(s"`$corpusVec`")) === dim)
      .select(col(s"`$corpusId`").cast("long").as("neighbor_id"),
        col(s"`$corpusVec`").cast("array<double>").as("__cv"))
    val q = queries
      .filter(col(s"`$queryId`").isNotNull && col(s"`$queryVec`").isNotNull &&
        size(col(s"`$queryVec`")) === dim)
      .select(col(s"`$queryId`").cast("long").as("query_id"),
        col(s"`$queryVec`").cast("array<double>").as("__qv"))
    val cents = coarse.getOrElse(
      if (trainIters <= 0) ivfCentroids(c, numCentroids)
      else ivfTrainCentroids(c, numCentroids, trainIters))
    val resid = ivfResiduals(c, "neighbor_id", "__cv", cents)
    val rcb = residualCodebooks.getOrElse(
      pqTrain(resid, "neighbor_id", "__rv", dim, numSubspaces, pqCentroids,
        trainIters))
    // one residual row per vector, so the cell lookup is a plain 1:m join
    val codes = pqEncode(resid, "neighbor_id", "__rv", dim, numSubspaces, rcb)
      .join(resid.select(col("neighbor_id"), col("centroid_id")),
        Seq("neighbor_id"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(desc("__ccos"), asc("centroid_id"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(cosine(col("__qv"), col("__cent")), 6).as("__ccos"),
        floor(dot(col("__qv"), col("__cent")) * lit(LloydScale))
          .cast("long").as("__cellpart"))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "centroid_id", "__cellpart")
    val lut = q
      .select(col("query_id"), pqPieces("__qv", dim, numSubspaces).as("__e"))
      .select(col("query_id"), col("__e.subspace").as("subspace"),
        col("__e.__sv").as("__sqv"))
      .join(broadcast(rcb), Seq("subspace"))
      .select(col("query_id"), col("subspace"),
        col("centroid_id").as("code"),
        floor(dot(col("__sqv"), col("__cent")) * lit(LloydScale))
          .cast("long").as("__part"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(desc("__adc"), asc("neighbor_id"))
    val cand = codes
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("__part")) + max(col("__cellpart"))).as("__adc"))
      .withColumn("__rn", row_number().over(wCand))
      .filter(col("__rn") <= candK)
      .select("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    cand
      .join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Recall of [[ivfpqTopK]] vs exact ground truth — what the combined
    * cell restriction (nProbe/K of the corpus scanned) plus residual-PQ
    * candidate ranking costs after the exact re-rank.
    */
  def ivfpqRecall(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      numSubspaces: Int = 4, pqCentroids: Int = 16, candK: Int = 50,
      trainIters: Int = 2, coarse: Option[DataFrame] = None,
      residualCodebooks: Option[DataFrame] = None): DataFrame =
    recallAgainstExact(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k),
      ivfpqTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        dim, k, numCentroids, nProbe, numSubspaces, pqCentroids, candK,
        trainIters, coarse, residualCodebooks))

  /** Semantic cluster dedup (the SemDeDup-style curation step): connected
    * components over the embedding near-dup graph — [[cosineNearDupPairs]]
    * edges at `threshold`, then the same distributed min-label propagation
    * as the text cluster family ([[Dedup.connectedComponents]]). Output
    * (id, cluster); cluster = smallest reachable id; vectors with no
    * near-dup edge keep their own id. Vertices are rows with non-null id
    * AND vector (no embedding → no semantic identity). Inherits the pair
    * kernel's O(n²) compute contract — beyond ~10M vectors generate edges
    * with the LSH/IVF candidate paths instead.
    */
  def cosineClusters(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numBlocks: Int = 16): DataFrame = {
    // persist the pair list: CC's edge symmetrization reads it from TWO
    // union branches, which would otherwise run the O(n²) block-pair
    // cosine kernel twice (same contract as nearDupClusters)
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, numBlocks)
      .transform(graft.CachedFrames.cached)
    val vertices = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol))
    Dedup.connectedComponents(vertices, idCol, pairs, "id_a", "id_b")
  }

  /** SemDeDup proper (Abbas et al. 2023, arXiv:2303.09540): semantic
    * dedup at the published SCALE shape — k-means partitions the corpus
    * ([[kmeansClusters]], the exact-int64 Lloyd trainer the oracle
    * replays bit-exactly), pairwise cosine runs ONLY within a cluster,
    * and of each duplicate pair the vector FARTHER from its centroid
    * survives (the paper's keep-low-centroid-similarity rule, §3; the
    * (centroid_cos, id) lexicographic tiebreak makes the keeper total
    * and engine-portable). Contrast [[cosineClusters]]: that one is
    * exact over ALL pairs (the O(n²) block kernel); this is the
    * subquadratic curation step — pair volume is Σ_c C(|c|,2) ≈ n²/k,
    * against which assignment costs n·k (the broadcast argmax over the
    * codebook), so total work n·k + n²/k is minimized at k* ≈ √n:
    * grow k toward √n as the corpus grows (O(n^1.5) total), NOT ∝ n —
    * the 64× probe measured the ∝-n choice 5× slower than even fixed-k
    * because the Lloyd argmax came to dominate (SCALING.md probe10b).
    * The price is the paper's: a near-dup pair split across two cells
    * is never compared (recall loss the k/√n trade controls).
    *
    * Output: one row PER input vector (id, cluster_id, centroid_cos,
    * pruned) — `pruned` = ∃ b in the same cluster with
    * round(cos(a,b),6) ≥ `threshold` and (b.centroid_cos, b.id) <
    * (a.centroid_cos, a.id). Callers drop `pruned` rows to curate.
    *
    * Scale shape: the codebook is a k×dim broadcast; assignment
    * shuffles one row per vector; the within-cluster self-join is an
    * equi-join on cluster_id whose fan-out a degenerate codebook (one
    * hot cell swallowing the corpus) would turn quadratic — the
    * plan-embedded guard (the [[GraphOps.cooccurrenceLift]]
    * raise_error pattern, wrapping the id column so no consumer can
    * prune it away) names the cluster and fails fast at
    * `maxClusterSize` instead of fanning C(|c|,2) from few tasks.
    * The assigned+vector frame is persisted and feeds both join sides
    * plus the output — it outlives the call (the [[Dedup]]-family
    * clearCache/[[graft.CachedFrames]] contract).
    */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      k: Int = 16, iters: Int = 2, maxClusterSize: Long = 100000L,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(maxClusterSize >= 2,
      s"maxClusterSize must be at least 2: $maxClusterSize")
    val assigned = kmeansClusters(df, idCol, vecCol, k, iters, centroids)
    val vecs = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val wc = Window.partitionBy(col("cluster_id"))
    // guard wraps the id column: every downstream consumer (both join
    // sides, the output row) reads it, so column pruning can never elide
    // the check even under a bare count()
    val sides = assigned
      .select(col(idCol).as("__id"), col("cluster_id"), col("centroid_cos"))
      .withColumn("__csz", count(lit(1)).over(wc))
      .select(
        when(col("__csz") > maxClusterSize,
          raise_error(concat(
            lit("semDedup: cluster "), col("cluster_id").cast("string"),
            lit(" holds "), col("__csz").cast("string"),
            lit(s" vectors (> maxClusterSize=$maxClusterSize) — the" +
              " within-cluster self-join would fan C(n,2) pairs from few" +
              " tasks; raise k, retrain, or split the hot cell"))))
          .otherwise(col("__id")).as("__id"),
        col("cluster_id"), col("centroid_cos"))
      .join(vecs, Seq("__id"))
      .transform(graft.CachedFrames.cached)
    val b = sides.select(col("__id").as("__idb"), col("cluster_id"),
      col("centroid_cos").as("__cb"), col("__v").as("__vb"))
    val prunedIds = sides.join(b, Seq("cluster_id"))
      .filter(col("__idb") =!= col("__id"))
      .filter(round(cosine(col("__v"), col("__vb")), 6) >= threshold)
      .filter(col("__cb") < col("centroid_cos") ||
        (col("__cb") === col("centroid_cos") && col("__idb") < col("__id")))
      .select(col("__id").as("__pruned_id")).distinct()
    sides.join(prunedIds, col("__id") === col("__pruned_id"), "left")
      .select(col("__id").as(idCol), col("cluster_id"), col("centroid_cos"),
        col("__pruned_id").isNotNull.as("pruned"))
  }

  /** Embedding near-duplicate pairs: all (a < b) with cosine ≥ threshold.
    *
    * Exact all-pairs is inherently O(n²) in similarity computations; the
    * distribution strategy is block self-join: rows hash into `numBlocks`
    * blocks by id, each block is packed into one chunk row, and the
    * B·(B+1)/2 ordered chunk pairs (block_a ≤ block_b) fan out across
    * executors, each running a tight double-precision dot-product kernel
    * over its two chunks. Nothing ever collects to the driver, and every
    * unordered row pair is examined exactly once (cross-block pairs live in
    * exactly one ordered chunk pair; same-block pairs in the diagonal one).
    * The declarative form (pair join + `zip_with`/`aggregate` cosine) is
    * interpreted per element and ~100× slower than the kernel.
    *
    * Scale contract: two chunks (2·n/B vectors) must fit in one task's
    * memory — grow `numBlocks` with the corpus (work per task shrinks as
    * 1/B², task count grows as B²). The total compute is still O(n²):
    * beyond ~10M vectors route through [[hyperplaneBucket]] / [[lshTopK]]
    * (approximate) instead of exact all-pairs.
    *
    * Per-pair math matches the SQL/oracle formulation exactly: sequential
    * double dot and norms, rounded half-up to 6 dp. Null ids/vectors are
    * excluded (they have no well-defined similarity).
    *
    * Caching contract (same as the Dedup near-dup family): the packed
    * chunks persist for the lifetime of the lazy result — they feed both
    * sides of the chunk-pair join, and unpersisting before the caller's
    * action would recompute the group+pack twice. Long-lived sessions
    * issuing many calls should `graft.CachedFrames.releaseAll()` between
    * batches.
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numBlocks: Int = 16): DataFrame = {
    require(numBlocks >= 1, s"numBlocks must be positive, got $numBlocks")
    // fail fast on non-integral ids: a silent cast("long") would turn
    // string ids into nulls AFTER the null filter has run, flooding the
    // kernel with 0-id rows instead of erroring
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"cosineNearDupPairs requires an integral id column; '$idCol' is " +
          s"${other.simpleString}. Hash string ids to int64 explicitly first " +
          "(e.g. withColumn(id, xxhash64(col(id)))) so emitted pair ids stay meaningful.")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .groupBy(pmod(col("__id"), lit(numBlocks.toLong)).as("__blk"))
      .agg(collect_list(struct(col("__id").as("_1"), col("__v").as("_2"))).as("__rows"))
      // feeds both sides of the chunk-pair join; persist or the
      // shingle-of-this-op (group + pack) runs twice
      .transform(graft.CachedFrames.cached)
    // tiny driver-side list of ordered block pairs — joined by equi-key so
    // Catalyst broadcasts it; the corpus itself is never broadcast
    val blockPairs = spark
      .createDataset(for { a <- 0L until numBlocks; b <- a until numBlocks } yield (a, b))
      .toDF("__blk_a", "__blk_b")
    val paired = chunks.select(col("__blk").as("__blk_a"), col("__rows").as("__ra"))
      .join(broadcast(blockPairs), "__blk_a")
      .join(
        chunks.select(col("__blk").as("__blk_b"), col("__rows").as("__rb")),
        "__blk_b")
      // spread the B(B+1)/2 heavy chunk-pair rows evenly over tasks.
      // EXPLICIT partition count (REPARTITION_BY_NUM): this stage is
      // compute-bound at KB-per-row — AQE's size-based coalescing (r20)
      // would fold the whole O(n²) cosine kernel into one task if left
      // free to merge these byte-tiny partitions
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__blk_a"), col("__blk_b"))
      .select(
        col("__blk_a").as("_1"), col("__blk_b").as("_2"),
        col("__ra").as("_3"), col("__rb").as("_4"))
      .as[(Long, Long, Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])]
    paired.mapPartitions { it =>
      def pack(rows: Seq[(Long, Seq[Double])]): (Array[Long], Array[Array[Double]], Array[Double]) = {
        val ids = new Array[Long](rows.size)
        val vs = new Array[Array[Double]](rows.size)
        val norms = new Array[Double](rows.size)
        var i = 0
        rows.foreach { case (id, v) =>
          val arr = v.toArray
          var s = 0.0; var d = 0
          while (d < arr.length) { s += arr(d) * arr(d); d += 1 }
          ids(i) = id; vs(i) = arr; norms(i) = math.sqrt(s); i += 1
        }
        (ids, vs, norms)
      }
      def sim(va: Array[Double], vb: Array[Double], na: Double, nb: Double): Double = {
        var dot = 0.0; var i = 0
        while (i < va.length) { dot += va(i) * vb(i); i += 1 }
        val denom = na * nb
        if (denom > 0) {
          // half-up for non-negatives, matching SQL round() semantics
          val x = dot / denom * 1e6
          (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)) / 1e6
        } else -2.0 // zero-norm vectors: cosine undefined, below any threshold
      }
      it.flatMap { case (blkA, blkB, ra, rb) =>
        val (idsA, vsA, normsA) = pack(ra)
        val diagonal = blkA == blkB
        val (idsB, vsB, normsB) = if (diagonal) (idsA, vsA, normsA) else pack(rb)
        (0 until idsA.length).iterator.flatMap { i =>
          val startJ = if (diagonal) i + 1 else 0
          (startJ until idsB.length).iterator.flatMap { j =>
            val s = sim(vsA(i), vsB(j), normsA(i), normsB(j))
            // ids must differ: duplicate-id rows are not self-pairs
            if (s >= threshold && idsA(i) != idsB(j)) {
              val (ida, idb) =
                if (idsA(i) < idsB(j)) (idsA(i), idsB(j)) else (idsB(j), idsA(i))
              Iterator.single((ida, idb, s))
            } else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cosine_sim")
  }
}
