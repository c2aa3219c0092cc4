package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Dump, Gate}
import graft.SparkEntry.{inputStamp, memoFrame, t, tf, verifySfDir}

/** The embedding and ANN registry gates (§2.11), each Spark body next to
  * its DuckDB oracle, with the index budgets they share, the trained
  * artifacts they serve and the parquet dumps their oracles replay.
  * Every index parameter is written once below; the gate bodies, the
  * training memo keys, the oracle SQL, Verify's dumps and Bench's
  * warm-up and `ann_train_cold` all read it from here.
  */
object SimilarityGates {

  // ---- index budgets ---------------------------------------------------

  /** Width of the embeddings corpus's vectors. */
  val Dim = 64

  /** Depth of every top-k list and recall comparison. */
  val TopK = 10

  /** A query set: the corpus vectors with `vec_id < idBelow`, and the
    * number of ADC candidates the PQ indexes re-rank exactly per query.
    */
  final case class QuerySet(idBelow: Int, candK: Int) {
    def of(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < idBelow)
  }
  /** The top-k gates' queries. */
  val TopKQueries = QuerySet(idBelow = 5, candK = 50)
  /** The recall gates' queries. */
  val RecallQueries = QuerySet(idBelow = 20, candK = 100)

  /** Coarse IVF index, also the k-means and SemDeDup codebook: `cells`
    * seeded-by-id centroids, `iters` exact Lloyd rounds, `probes` cells
    * scored per query.
    */
  final case class IvfIndex(cells: Int, probes: Int, iters: Int)
  val Ivf = IvfIndex(cells = 16, probes = 6, iters = 2)

  /** PQ codebooks: `subspaces` contiguous slices of a vector, each with
    * `centroids` entries from `iters` Lloyd rounds.
    */
  final case class PqIndex(subspaces: Int, centroids: Int, iters: Int) {
    def width: Int = Dim / subspaces
  }
  val Pq = PqIndex(subspaces = 4, centroids = 16, iters = 2)

  /** IVFADC: the shared coarse cells plus PQ codebooks over residuals. */
  final case class IvfPqIndex(coarse: IvfIndex, residual: PqIndex)
  val IvfPq = IvfPqIndex(coarse = Ivf, residual = Pq)

  /** Hyperplane LSH: `planes` sign bits per key, `tables` keys per vector. */
  final case class LshShape(planes: Int, tables: Int)
  /** `ann_lsh`/`ann_recall`: near-brute-force on this corpus, see `ann_lsh`. */
  val BenchLsh = LshShape(planes = 4, tables = 16)
  /** `ann_lsh_scaled`: the selective shape, see that gate. */
  val ScaledLsh = LshShape(planes = 10, tables = 32)

  /** Johnson–Lindenstrauss target width of `dim_reduce`/`ann_rp_recall`. */
  val RpDims = 16

  // ---- trained artifacts (memoized per JVM, see SparkEntry.memoTrained) --

  private def trainIvf(emb: DataFrame): DataFrame =
    Similarity.ivfCodebook(emb, "vec_id", "embedding", k = Ivf.cells, iters = Ivf.iters)

  private def trainPq(emb: DataFrame): DataFrame =
    Similarity.pqTrain(emb, "vec_id", "embedding", dim = Dim,
      numSubspaces = Pq.subspaces, numCentroids = Pq.centroids, iters = Pq.iters)

  private def trainIvfPq(emb: DataFrame, coarse: DataFrame): DataFrame =
    Similarity.ivfpqTrain(emb, "vec_id", "embedding", dim = Dim,
      numSubspaces = IvfPq.residual.subspaces, numCentroids = IvfPq.residual.centroids,
      coarse = coarse, iters = IvfPq.residual.iters)

  private def memoEmbeddings(s: SparkSession, dir: String, index: Product)
      (train: DataFrame => DataFrame): DataFrame =
    memoFrame(s, s"$dir|$index", inputStamp(dir, "embeddings"))(train(t(s, dir, "embeddings")))

  /** The shared embeddings-corpus IVF/k-means codebook ([[Ivf]]), trained
    * once per JVM and injected into every gate that indexes the corpus.
    */
  def ivfCentroidsShared(s: SparkSession, dir: String): DataFrame =
    memoEmbeddings(s, dir, Ivf)(trainIvf)

  /** The PQ codebooks ([[Pq]]) `ann_pq` and `ann_pq_recall` serve from one
    * training pass; Verify dumps the same rows for their oracles.
    */
  def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    memoEmbeddings(s, dir, Pq)(trainPq)

  /** The IVFADC residual codebooks ([[IvfPq]]) over residuals against the
    * shared coarse codebook ([[ivfCentroidsShared]]). Memoized: `ann_ivfpq`,
    * `ann_ivfpq_recall` and Verify's dump serve from one training pass.
    */
  def ivfpqCodebooks(s: SparkSession, dir: String): DataFrame =
    memoEmbeddings(s, dir, IvfPq)(trainIvfPq(_, ivfCentroidsShared(s, dir)))

  /** Bench-only `ann_train_cold`: the IVF, PQ and IVF-PQ trainers at the
    * registry's budgets, called directly (no memo), so every timed pass
    * pays a full training over the embeddings corpus next to the
    * serving-only `ann_*` numbers.
    */
  def trainCold(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ivf = trainIvf(emb)
    def family(name: String, cb: DataFrame, subspace: Column) =
      cb.select(lit(name).as("family"), subspace.as("subspace"),
        col("centroid_id"), col("__cent").as("cv"))
    family("ivf", ivf, lit(0L))
      .unionByName(family("pq", trainPq(emb), col("subspace")))
      .unionByName(family("ivfpq", trainIvfPq(emb, ivf), col("subspace")))
  }

  /** The `ann_lsh` key frame: every embedding's [[BenchLsh]] bucket keys. */
  def lshKeyFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), graft.functions.lsh_keys(
        col("embedding"), Dim, BenchLsh.planes, BenchLsh.tables).as("keys"))

  /** Corpus + queries for `ann_lsh_scaled`: the base embeddings (as double
    * arrays) plus [[TopK]] deterministic near-copies of each query (±5%
    * per-component, cos ≈ 0.999) that become its exact top-k — the
    * neighbors a selective LSH config exists to find.
    */
  def annLshScaledData(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def u(j: Int, d: Int): Double = // deterministic noise in [-1, 1]
      java.lang.Math.floorMod(
        graft.functions.TextKernels.mix64((1000L + j) * graft.functions.TextKernels.Gamma + d),
        2001L).toDouble / 1000.0 - 1.0
    val variants = (1 to TopK).map { j =>
      struct(lit(j.toLong).as("j"),
        array((0 until Dim).map(d => lit(1.0 + 0.05 * u(j, d))): _*).as("f"))
    }
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = RecallQueries.of(base)
    val copies = queries
      .select(col("vec_id"), col("embedding"), explode(array(variants: _*)).as("v"))
      .select(
        (lit(100000L) + col("vec_id") * 100 + col("v.j")).as("vec_id"),
        zip_with(col("embedding"), col("v.f"), (a, b) => a * b).as("embedding"))
    (base.unionByName(copies), queries)
  }

  // ---- Verify dumps ----------------------------------------------------

  private def codebookDump(codebooks: (SparkSession, String) => DataFrame)
      (s: SparkSession, dir: String): DataFrame =
    codebooks(s, dir).select(col("subspace"), col("centroid_id"), col("__cent").as("cv"))

  /** The trained PQ codebooks `(subspace, centroid_id, cv)`: the oracles
    * replay encode + ADC + re-rank from them (the trainer is the exact
    * Lloyd machinery the `ann_ivf` oracle replays bit-exactly).
    */
  val PqDump = Dump("pq-codebooks", Seq("ann_pq", "ann_pq_recall"),
    codebookDump(pqCodebooks))

  /** The IVFADC residual codebooks `(subspace, centroid_id, cv)`: the
    * oracles replay coarse-assign → residual → encode → cell-term + LUT
    * ADC → re-rank from them plus the shared coarse Lloyd replay.
    */
  val IvfPqDump = Dump("ivfpq-codebooks", Seq("ann_ivfpq", "ann_ivfpq_recall"),
    codebookDump(ivfpqCodebooks))

  /** `(vec_id, keys)`, the kernel-computed [[BenchLsh]] keys: the oracles
    * replay candidate generation (bucket equi-join), exact scoring and
    * ranking; only the SplitMix64 plane derivation stays spec-pinned
    * (kernel ≡ literal-plane equivalence in SimilaritySpec).
    */
  val LshKeysDump = Dump("lsh-keys", Seq("ann_lsh", "ann_recall"), lshKeyFrame)

  /** The `ann_lsh_scaled` corpus with its [[ScaledLsh]] keys. */
  val ScaledLshDump = Dump("lsh-scaled", Seq("ann_lsh_scaled"), (s, dir) =>
    annLshScaledData(s, dir)._1.select(col("vec_id"), col("embedding"),
      graft.functions.lsh_keys(
        col("embedding"), Dim, ScaledLsh.planes, ScaledLsh.tables).as("keys")))

  val dumps: Seq[Dump] = Seq(PqDump, IvfPqDump, LshKeysDump, ScaledLshDump)

  // ---- shared oracle fragments ----------------------------------------

  private val embeddingsESrc =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL""".stripMargin

  private def withE(ctes: String): String = s"WITH e AS (\n  $embeddingsESrc),\n" + ctes

  private val selectApprox =
    "\nSELECT query_id, neighbor_id, cosine_sim, rank\nFROM approx ORDER BY query_id, rank"

  /** Exact-scored candidates `cand(qid, nid)`, ranked to the final top-k. */
  private val rankCandidates =
    s"""scored AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |    round(list_cosine_similarity(eq.v, en.v), 6) AS cosine_sim
       |  FROM cand JOIN e eq ON eq.vec_id = qid JOIN e en ON en.vec_id = nid)
       |SELECT query_id, neighbor_id, cosine_sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** Recall-gate oracle builder: exact top-k per recall query over
    * `eSrc`, an approx side supplied as CTEs ending in
    * `approx(query_id, neighbor_id)`, the per-query recall join, and the
    * certifyRecallFloor columns (mean over the UNPARTITIONED window = whole
    * set, matching Spark's frameless partitionBy()). `pass` mirrors the
    * engine's value when the gate succeeded (on violation the engine errors
    * and there is nothing to compare).
    */
  private def recallOracleSql(eSrc: String, approxCtes: String, floor: Double): String =
    s"""WITH e AS ($eSrc),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC, e.vec_id) AS rn
       |    FROM e CROSS JOIN (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < ${RecallQueries.idBelow}) q
       |    WHERE e.vec_id <> q.qid) WHERE rn <= $TopK),
       |$approxCtes,
       |hits AS (
       |  SELECT x.query_id, count(*) AS nh
       |  FROM exact x JOIN approx a USING (query_id, neighbor_id) GROUP BY 1),
       |base AS (SELECT query_id, count(*) AS ne FROM exact GROUP BY 1),
       |rec AS (
       |  SELECT b.query_id, CAST(b.ne AS BIGINT) AS n_exact,
       |    CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit,
       |    round(coalesce(h.nh, 0) * 1.0 / b.ne, 4) AS recall
       |  FROM base b LEFT JOIN hits h ON h.query_id = b.query_id)
       |SELECT query_id, n_exact, n_hit, recall,
       |  round(avg(recall) OVER (), 4) AS mean_recall,
       |  CAST($floor AS DOUBLE) AS floor,
       |  round(avg(recall) OVER (), 4) >= $floor AS pass
       |FROM rec ORDER BY query_id""".stripMargin

  /** The PQ indexes' tail: each query's `q.candK` best ADC scores
    * (`adc(qid, nid, score)`), exact-cosine re-ranked to top-k in
    * `approx(query_id, neighbor_id, cosine_sim, rank)`.
    */
  private def adcRerankCtes(q: QuerySet): String =
    s"""cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, nid) AS rn FROM adc) WHERE rn <= ${q.candK}),
       |approx AS (
       |  SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS BIGINT) AS rank
       |  FROM (
       |    SELECT c.qid AS query_id, c.nid AS neighbor_id,
       |      round(list_cosine_similarity(eq.v, en.v), 6) AS cosine_sim,
       |      row_number() OVER (PARTITION BY c.qid
       |        ORDER BY round(list_cosine_similarity(eq.v, en.v), 6) DESC,
       |          c.nid) AS rn
       |    FROM cand c JOIN e eq ON eq.vec_id = c.qid
       |      JOIN e en ON en.vec_id = c.nid) WHERE rn <= $TopK)""".stripMargin

  /** Approx-side CTEs replaying the PQ pipeline from Verify's codebook
    * dump: encode every vector per subspace (max rounded cosine,
    * centroid-id tiebreak — the shared assignment convention), build
    * the per-query LUT of grid-floored partial dot products, ADC-score
    * codes (exact int64 sums — order-independent), cut to `q.candK`
    * candidates, exact-cosine re-rank to top-k. Ends in
    * `approx(query_id, neighbor_id, cosine_sim, rank)`.
    */
  private def pqApproxCtes(dumpDir: String, q: QuerySet): String =
    s"""cb AS (SELECT subspace, centroid_id, cv
       |  FROM read_parquet('$dumpDir/*.parquet')),
       |pieces AS (
       |  SELECT vec_id, ss.s AS subspace,
       |    v[ss.s * ${Pq.width} + 1 : ss.s * ${Pq.width} + ${Pq.width}] AS sv
       |  FROM e, unnest(generate_series(0, ${Pq.subspaces - 1})) AS ss(s)),
       |enc AS (
       |  SELECT vec_id, subspace, cid AS code FROM (
       |    SELECT p.vec_id, p.subspace, c.centroid_id AS cid,
       |      row_number() OVER (PARTITION BY p.vec_id, p.subspace
       |        ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC,
       |          c.centroid_id) AS rn
       |    FROM pieces p JOIN cb c ON c.subspace = p.subspace) WHERE rn = 1),
       |lut AS (
       |  SELECT p.vec_id AS qid, p.subspace, c.centroid_id AS code,
       |    CAST(floor(list_inner_product(p.sv, c.cv) * 1048576.0) AS BIGINT) AS part
       |  FROM pieces p JOIN cb c ON c.subspace = p.subspace
       |  WHERE p.vec_id < ${q.idBelow}),
       |adc AS (
       |  SELECT l.qid, en.vec_id AS nid, sum(l.part) AS score
       |  FROM enc en JOIN lut l ON l.subspace = en.subspace AND l.code = en.code
       |  WHERE en.vec_id <> l.qid GROUP BY 1, 2),
       |""".stripMargin + adcRerankCtes(q)

  /** Approx-side CTEs replaying the IVFADC pipeline: coarse assignment
    * comes from the shared Lloyd replay (callers prepend
    * [[ivfLloydCtes]], so `e`/`cents`/`assign` are in scope), residual
    * codebooks from Verify's dump. Residuals are exact IEEE `x − c`
    * (order-pinned by list position), encode follows the shared
    * max-rounded-cosine / centroid-id-tiebreak convention, and the ADC
    * score is grid-exact int64: per-(query, probed-cell) cell term
    * `⌊dot(q,c)·2²⁰⌋` plus the per-subspace LUT partials — so candidate
    * ranking can never drift on float summation order. Ends in
    * `approx(query_id, neighbor_id, cosine_sim, rank)`.
    */
  private def ivfpqApproxCtes(dumpDir: String, q: QuerySet): String = {
    val w = IvfPq.residual.width
    s"""rcb AS (SELECT subspace, centroid_id, cv
       |  FROM read_parquet('$dumpDir/*.parquet')),
       |cex AS (SELECT cid, generate_subscripts(cv, 1) AS d, unnest(cv) AS m
       |  FROM cents),
       |rex AS (SELECT a.vec_id, a.cid,
       |    generate_subscripts(e.v, 1) AS d, unnest(e.v) AS x
       |  FROM assign a JOIN e ON e.vec_id = a.vec_id),
       |resid AS (
       |  SELECT r.vec_id, r.cid, list(r.x - c.m ORDER BY r.d) AS rv
       |  FROM rex r JOIN cex c ON c.cid = r.cid AND c.d = r.d
       |  GROUP BY r.vec_id, r.cid),
       |rpieces AS (
       |  SELECT vec_id, cid, ss.s AS subspace,
       |    rv[ss.s * $w + 1 : ss.s * $w + $w] AS sv
       |  FROM resid, unnest(generate_series(0, ${IvfPq.residual.subspaces - 1})) AS ss(s)),
       |enc AS (
       |  SELECT vec_id, cid, subspace, ccode AS code FROM (
       |    SELECT p.vec_id, p.cid, p.subspace, c.centroid_id AS ccode,
       |      row_number() OVER (PARTITION BY p.vec_id, p.subspace
       |        ORDER BY round(list_cosine_similarity(p.sv, c.cv), 6) DESC,
       |          c.centroid_id) AS rn
       |    FROM rpieces p JOIN rcb c ON c.subspace = p.subspace) WHERE rn = 1),
       |qp AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < ${q.idBelow}),
       |probes AS (
       |  SELECT qid, cid, cellpart FROM (
       |    SELECT q.qid, c.cid,
       |      CAST(floor(list_inner_product(q.qv, c.cv) * 1048576.0) AS BIGINT)
       |        AS cellpart,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
       |          c.cid) AS rn
       |    FROM qp q CROSS JOIN cents c) WHERE rn <= ${IvfPq.coarse.probes}),
       |qpieces AS (
       |  SELECT qid, ss.s AS subspace, qv[ss.s * $w + 1 : ss.s * $w + $w] AS sv
       |  FROM qp, unnest(generate_series(0, ${IvfPq.residual.subspaces - 1})) AS ss(s)),
       |lut AS (
       |  SELECT p.qid, p.subspace, c.centroid_id AS code,
       |    CAST(floor(list_inner_product(p.sv, c.cv) * 1048576.0) AS BIGINT)
       |      AS part
       |  FROM qpieces p JOIN rcb c ON c.subspace = p.subspace),
       |adc AS (
       |  SELECT pr.qid, en.vec_id AS nid, pr.cellpart + sum(l.part) AS score
       |  FROM enc en JOIN probes pr ON pr.cid = en.cid
       |  JOIN lut l ON l.qid = pr.qid AND l.subspace = en.subspace
       |    AND l.code = en.code
       |  WHERE en.vec_id <> pr.qid
       |  GROUP BY pr.qid, en.vec_id, pr.cellpart),
       |""".stripMargin + adcRerankCtes(q)
  }

  /** `approx(query_id, neighbor_id)`: the exact-cosine top-k of each
    * query's candidates `cand(qid, nid)`.
    */
  private val candTopKApprox =
    s"""approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qid AS query_id, nid AS neighbor_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY round(list_cosine_similarity(eq.v, en.v), 6) DESC, nid) AS rn
       |    FROM cand JOIN e eq ON eq.vec_id = qid JOIN e en ON en.vec_id = nid)
       |  WHERE rn <= $TopK)""".stripMargin

  /** Approx-side CTEs for an LSH recall oracle over a (vec_id, embedding,
    * keys) dump: bucket equi-join candidates → exact-score → top-k.
    */
  private def lshApproxCtes(dumpDir: String): String =
    s"""ck AS (SELECT vec_id, unnest(keys) AS key
       |  FROM read_parquet('$dumpDir/*.parquet')),
       |qk AS (SELECT vec_id AS qid, unnest(keys) AS key
       |  FROM read_parquet('$dumpDir/*.parquet') WHERE vec_id < ${RecallQueries.idBelow}),
       |cand AS (
       |  SELECT DISTINCT qid, ck.vec_id AS nid
       |  FROM ck JOIN qk USING (key) WHERE ck.vec_id <> qid),
       |""".stripMargin + candTopKApprox

  /** Approx-side CTEs of the IVF gates: each query's `Ivf.probes` nearest
    * cells (callers prepend [[ivfLloydCtes]]) and the candidates filed
    * under them.
    */
  private def ivfProbeCtes(q: QuerySet): String =
    s"""probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT e.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN cents c WHERE e.vec_id < ${q.idBelow}) WHERE rn <= ${Ivf.probes}),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.qid),""".stripMargin

  /** The JL sign matrix (RpDims × Dim) as a SQL CTE body — mirrors
    * `Similarity.rpSign`: +1/√RpDims when the first md5 hex nibble of
    * "rp j i" is 0–7, else −1/√RpDims.
    */
  private val rpSignsCte = {
    val w = 1 / math.sqrt(RpDims)
    s"""SELECT j, i,
       |    CASE WHEN strpos('01234567', substr(md5('rp ' || j || ' ' || i), 1, 1)) > 0
       |         THEN $w ELSE ${-w} END AS w
       |  FROM range($RpDims) t1(j), range($Dim) t2(i)""".stripMargin
  }

  /** [[Ivf]]'s Lloyd rounds from the seeded-by-id codebook, mirroring
    * `Similarity.ivfTrainCentroids`: assign → exact grid-scaled
    * per-cluster mean (floor(x·2^20) summed as BIGINT — order-independent,
    * so engine and oracle can never drift on float summation order) →
    * reassign, once per round. Ends at `cents`/`assign`, the names the
    * probe/cand stages consume. One shared fragment, so the IVF, k-means
    * and SemDeDup oracles can't diverge.
    */
  private val ivfLloydCtes: String = {
    def assign(cents: String, name: String) =
      s"""$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def mean(assignName: String, i: Int, out: String) =
      s"""ex$i AS (
         |  SELECT a.cid, generate_subscripts(e.v, 1) AS d, unnest(e.v) AS x
         |  FROM $assignName a JOIN e ON e.vec_id = a.vec_id),
         |ag$i AS (
         |  SELECT cid, d, sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS s, count(*) AS n
         |  FROM ex$i GROUP BY cid, d),
         |$out AS (
         |  SELECT cid, list(s / (n * 1048576.0) ORDER BY d) AS cv FROM ag$i GROUP BY cid)""".stripMargin
    def last(name: String, i: Int) = if (i == Ivf.iters) name else s"$name$i"
    (s"cents0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT ${Ivf.cells})" +:
      assign("cents0", "assign0") +:
      (1 to Ivf.iters).flatMap(i => Seq(
        mean(s"assign${i - 1}", i, last("cents", i)),
        assign(last("cents", i), last("assign", i))))).mkString(",\n")
  }

  /** Exact cosine top-k of the top-k queries, optionally filtered after
    * scoring (`where`), as `similarity_topk` and `hard_negatives` rank.
    */
  private def exactTopKSql(where: String): String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < ${TopKQueries.idBelow}
       |), scored AS (
       |  SELECT qid AS query_id, vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 6) AS cosine_sim
       |  FROM embeddings CROSS JOIN q WHERE vec_id <> qid)
       |SELECT query_id, neighbor_id, cosine_sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
       |FROM scored$where
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- gate builders ---------------------------------------------------

  /** A top-k gate: `run`'s neighbor lists in (query_id, rank) order. */
  private def topKGate(name: String)(run: (SparkSession, String) => DataFrame)
      (oracleSql: => String): Gate =
    Gate(name)((s, dir) => run(s, dir)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
      .orderBy("query_id", "rank"))(oracleSql)

  /** A recall gate: `recall`'s per-query rows, certified in-gate against
    * `floor` (a recall regression errors the gate instead of shipping
    * rows, so the driver's rows check is a recall check), against
    * [[recallOracleSql]] over `eSrc` with `approxCtes`.
    */
  private def recallGate(name: String, floor: Double, eSrc: => String = embeddingsESrc)
      (recall: (SparkSession, String) => DataFrame)(approxCtes: => String): Gate =
    Gate(name)((s, dir) =>
      Similarity.certifyRecallFloor(recall(s, dir), floor).orderBy("query_id"))(
      recallOracleSql(eSrc, approxCtes, floor))

  // ---- the gates -------------------------------------------------------

  val all: Seq[Gate] = Seq(

    // embedding-cosine near-dup pairs.
    Gate("embed_neardup") { (s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.9)
        .orderBy("id_a", "id_b")
    } {
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin
    },

    // semantic cluster dedup (SemDeDup-style): connected components over
    // the cosine near-dup graph. 0.45 sits just under the bench corpus's
    // top pair similarities so real multi-member clusters form; oracle =
    // recursive-CTE reachability.
    Gate("embed_clusters") { (s, dir) =>
      Similarity.cosineClusters(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    } {
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |prs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  -- non-zero-norm guard mirrors the engine kernel's denom>0
        |  -- branch: DuckDB orders NaN above all values, so a zero vector
        |  -- would otherwise fabricate oracle edges the engine never emits
        |  -- (it still seeds reach below, as its own singleton cluster)
        |  WHERE list_sum(list_transform(a.v, x -> x * x)) > 0
        |    AND list_sum(list_transform(b.v, x -> x * x)) > 0
        |    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.45),
        |edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
        |reach AS (
        |  SELECT vec_id AS a, vec_id AS b FROM e
        |  UNION
        |  SELECT r.a, ed.b FROM reach r JOIN edges ed ON r.b = ed.a)
        |SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS cluster
        |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin
    },

    // embedding centroid drift between snapshot slices (label parity
    // split): per-dimension fixed-point-exact means + shift — the
    // embedding-space analog of drift_psi. Quantized int64 sums (the
    // Lloyd-codebook trade) keep engine and oracle bit-identical.
    Gate("embed_drift") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
        emb.filter(pmod(col("label"), lit(2)) === 0),
        emb.filter(pmod(col("label"), lit(2)) === 1),
        "embedding")
    } {
      """WITH b AS (
        |  SELECT embedding AS v FROM embeddings
        |  WHERE label % 2 = 0 AND embedding IS NOT NULL AND len(embedding) > 0),
        |c AS (
        |  SELECT embedding AS v FROM embeddings
        |  WHERE label % 2 = 1 AND embedding IS NOT NULL AND len(embedding) > 0),
        |ab AS (
        |  SELECT d AS dim, sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM (SELECT generate_subscripts(v, 1) AS d, unnest(v) AS x FROM b)
        |  GROUP BY d),
        |ac AS (
        |  SELECT d AS dim, sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM (SELECT generate_subscripts(v, 1) AS d, unnest(v) AS x FROM c)
        |  GROUP BY d)
        |SELECT CAST(coalesce(ab.dim, ac.dim) AS BIGINT) AS dim,
        |  round(ab.s / (ab.n * 1048576.0), 6) AS base_mean,
        |  round(ac.s / (ac.n * 1048576.0), 6) AS cur_mean,
        |  round(ac.s / (ac.n * 1048576.0) - ab.s / (ab.n * 1048576.0), 6) AS mean_diff
        |FROM ab FULL JOIN ac ON ac.dim = ab.dim
        |ORDER BY dim""".stripMargin
    },

    // source semantic-redundancy matrix: pairwise cosine between
    // per-group embedding centroids on EXACT integer quantized sums
    // (scale cancels in the cosine, so no float folds across dims);
    // groups here are the label buckets standing in for feeds. Oracle:
    // HUGEINT dot/norms over the quantized sums, one division + two
    // sqrts per pair.
    Gate("source_centroid_sim") { (s, dir) =>
      Similarity.groupCentroidSim(
        t(s, dir, "embeddings")
          .select(pmod(col("vec_id"), lit(8L)).cast("string").as("grp"),
            col("embedding")),
        "grp", "embedding")
        .orderBy("group_a", "group_b")
    } {
      """WITH sums AS (
        |  SELECT CAST(vec_id % 8 AS VARCHAR) AS grp, d,
        |    CAST(sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS HUGEINT) AS s,
        |    count(*) AS n
        |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |          unnest(embedding) AS x
        |        FROM embeddings
        |        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |          AND len(embedding) > 0)
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT grp, sum(s * s) AS n2, CAST(max(n) AS BIGINT) AS n_vecs
        |  FROM sums GROUP BY grp),
        |dots AS (
        |  SELECT a.grp AS group_a, b.grp AS group_b, sum(a.s * b.s) AS dt
        |  FROM sums a JOIN sums b ON a.d = b.d AND a.grp < b.grp
        |  GROUP BY 1, 2)
        |SELECT d.group_a, d.group_b, na.n_vecs AS n_vecs_a,
        |  nb.n_vecs AS n_vecs_b,
        |  round(CAST(d.dt AS DOUBLE) /
        |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
        |    AS centroid_cosine
        |FROM dots d
        |JOIN norms na ON na.grp = d.group_a
        |JOIN norms nb ON nb.grp = d.group_b
        |ORDER BY d.group_a, d.group_b""".stripMargin
    },

    // int8 embedding quantization (4× memory at 100 TB): scalar
    // projections of the code carry a full oracle (scale + code sum and
    // extremes reconstruct in SQL from the float vector exactly).
    Gate("embed_quantize") { (s, dir) =>
      val q = graft.functions.quantize_int8(col("embedding"))
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          round(q.getField("scale"), 9).as("scale_r"),
          aggregate(q.getField("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
          array_min(q.getField("q")).cast("long").as("q_min"),
          array_max(q.getField("q")).cast("long").as("q_max"))
        .orderBy("vec_id")
    } {
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
        |), s AS (
        |  SELECT vec_id, dv,
        |    list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(dv, x ->
        |        greatest(-127, least(127, CAST(round(x / scale) AS BIGINT))))
        |      ELSE list_transform(dv, x -> CAST(0 AS BIGINT)) END AS code
        |  FROM s)
        |SELECT vec_id, round(scale, 9) AS scale_r,
        |  CAST(list_sum(code) AS BIGINT) AS q_sum,
        |  CAST(list_min(code) AS BIGINT) AS q_min,
        |  CAST(list_max(code) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin
    },

    // compressed-domain top-k quality gate: recall of int8-code search
    // vs full-precision exact (what the 4× compression costs).
    recallGate("ann_quantized_recall", floor = 0.8) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding", k = TopK)
    } {
      s"""codes AS (
         |  SELECT vec_id, CASE WHEN scale > 0
         |      THEN list_transform(v, x ->
         |        greatest(-127, least(127, CAST(round(x / scale) AS BIGINT))))
         |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS cd
         |  FROM (SELECT vec_id, v,
         |          list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
         |        FROM e)),
         |qdots AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    CAST(list_sum(list_transform(range(1, len(q.cd) + 1),
         |      i -> q.cd[i] * c.cd[i])) AS DOUBLE) AS num,
         |    sqrt(CAST(list_sum(list_transform(q.cd, x -> x * x)) AS DOUBLE)) *
         |    sqrt(CAST(list_sum(list_transform(c.cd, x -> x * x)) AS DOUBLE)) AS den
         |  FROM codes c CROSS JOIN (SELECT * FROM codes WHERE vec_id < ${RecallQueries.idBelow}) q
         |  WHERE c.vec_id <> q.vec_id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT qid AS query_id, nid AS neighbor_id,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY round(CASE WHEN den > 0 THEN num / den END, 6) DESC NULLS LAST, nid) AS rn
         |    FROM qdots) WHERE rn <= $TopK)""".stripMargin
    },

    // Johnson–Lindenstrauss random-sign projection Dim → RpDims
    // (long-form components; the md5-derived sign matrix lets the oracle
    // rebuild the whole projection in pure SQL, no dump needed).
    Gate("dim_reduce") { (s, dir) =>
      Similarity.reduceDims(t(s, dir, "embeddings"), "embedding",
          dim = Dim, outDim = RpDims)
        .select(col("vec_id"), posexplode(col("reduced")).as(Seq("j", "r")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          round(col("r"), 6).as("r"))
        .orderBy("vec_id", "j")
    } {
      s"""WITH signs AS ($rpSignsCte),
         |comp AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
         |SELECT c.vec_id, s.j, round(sum(s.w * c.x), 6) AS r
         |FROM comp c JOIN signs s ON s.i = c.i
         |GROUP BY c.vec_id, s.j
         |ORDER BY vec_id, j""".stripMargin
    },

    // recall of reduced-space brute-force top-k vs the full-width
    // ranking; full pure-SQL oracle (projection + both rankings + recall
    // all replayed).
    recallGate("ann_rp_recall", floor = 0.0) { (s, dir) =>
      val emb = tf(s, dir, "embeddings")
      Similarity.rpRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding",
        dim = Dim, outDim = RpDims, k = TopK)
    } {
      s"""signs AS ($rpSignsCte),
         |comp AS (
         |  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
         |  FROM e),
         |red AS (
         |  SELECT c.vec_id, s.j, sum(s.w * c.x) AS r
         |  FROM comp c JOIN signs s ON s.i = c.i GROUP BY c.vec_id, s.j),
         |rv AS (SELECT vec_id, list(r ORDER BY j) AS v FROM red GROUP BY vec_id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_cosine_similarity(q.v, e2.v), 6) DESC, e2.vec_id) AS rn
         |    FROM rv e2 CROSS JOIN (SELECT vec_id, v FROM rv WHERE vec_id < ${RecallQueries.idBelow}) q
         |    WHERE e2.vec_id <> q.vec_id) WHERE rn <= $TopK)""".stripMargin
    },

    // brute-force cosine top-k (exact baseline).
    topKGate("similarity_topk") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding", k = TopK)
    } {
      exactTopKSql("")
    },

    // hard-negative mining (contrastive-training curation): per query the
    // top-k most-similar vectors BELOW the 0.3 near-positive cut —
    // informative negatives with duplicates/unlabeled positives banded
    // out. Same broadcast/rank plan as similarity_topk.
    topKGate("hard_negatives") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding",
        k = TopK, dupCut = 0.3)
    } {
      exactTopKSql(" WHERE cosine_sim < 0.3")
    },

    // LSH-bucketed ANN (the 100 TB scale SHAPE; approximate). The
    // BenchLsh 4-bit × 16-table shape suits this near-random synthetic
    // corpus (neighbors at ~75°) but is near-brute-force on candidates —
    // a random pair collides in ≥1 of 16 tables with prob ≈ 0.64, so it
    // is bench-corpus-only; at scale raise the planes (8–16) and
    // compensate recall with more tables (see lshTopK scaladoc).
    topKGate("ann_lsh") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numPlanes = BenchLsh.planes, numTables = BenchLsh.tables)
    } {
      s"""WITH k AS (
         |  SELECT vec_id, keys FROM read_parquet('${LshKeysDump.dir(verifySfDir)}/*.parquet')),
         |ck AS (SELECT vec_id, unnest(keys) AS key FROM k),
         |qk AS (SELECT vec_id AS qid, unnest(keys) AS key FROM k WHERE vec_id < ${TopKQueries.idBelow}),
         |cand AS (
         |  SELECT DISTINCT qid, ck.vec_id AS nid
         |  FROM ck JOIN qk USING (key) WHERE ck.vec_id <> qid),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |""".stripMargin + rankCandidates
    },

    // ANN quality gate: deterministic recall of the LSH path vs the exact
    // brute-force ground truth (similarity_topk carries the DuckDB oracle
    // for the exact side).
    recallGate("ann_recall", floor = 0.5) { (s, dir) =>
      val emb = tf(s, dir, "embeddings")
      Similarity.annRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numPlanes = BenchLsh.planes, numTables = BenchLsh.tables)
    } {
      lshApproxCtes(LshKeysDump.dir(verifySfDir))
    },

    // the 100 TB-SHAPED LSH config, gate-backed: 10 planes × 32 tables —
    // a random pair collides in ≥1 table with prob 1−(1−2⁻¹⁰)³² ≈ 3%, so
    // candidates are genuinely selective (vs ~64% for BenchLsh). The
    // synthetic corpus has NO close neighbors (exact top-k sits at ~75°,
    // per-plane agreement ~0.58, so any selective config recalls ≤ ~0.15
    // of it — measured 0.15, theory 1−(1−0.58¹⁰)³² ≈ 0.13; that is LSH
    // physics, not a bug). So this gate evaluates what LSH is FOR: each
    // query gets planted near-copies (annLshScaledData) that become its
    // exact top-k, and the floor certifies the selective config recovers
    // ≥ 0.8 of them.
    recallGate("ann_lsh_scaled", floor = 0.8,
        eSrc = s"""SELECT vec_id, embedding AS v
                  |  FROM read_parquet('${ScaledLshDump.dir(verifySfDir)}/*.parquet')""".stripMargin) {
      (s, dir) =>
        val (corpus, queries) = annLshScaledData(s, dir)
        Similarity.annRecall(
          corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding",
          dim = Dim, k = TopK, numPlanes = ScaledLsh.planes, numTables = ScaledLsh.tables)
    } {
      lshApproxCtes(ScaledLshDump.dir(verifySfDir))
    },

    // IVF ANN (the bucketed alternative to LSH: nearest-centroid inverted
    // file, Ivf.probes buckets exact-scored per query) over the shared
    // Lloyd-trained codebook; the oracle replays training, probing and
    // ranking.
    topKGate("ann_ivf") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding",
        k = TopK, numCentroids = Ivf.cells, nProbe = Ivf.probes,
        centroids = Some(ivfCentroidsShared(s, dir)))
    } {
      withE(ivfLloydCtes + ",\n" + ivfProbeCtes(TopKQueries) + "\n" + rankCandidates)
    },

    // IVF quality gate: deterministic recall vs the exact side.
    // Lloyd-trained codebook (2 rounds): measured mean recall ≈ 0.95 at
    // sf0.01 — the raw seeded codebook needed a 0.3 floor.
    recallGate("ann_ivf_recall", floor = 0.7) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding",
        k = TopK, numCentroids = Ivf.cells, nProbe = Ivf.probes,
        centroids = Some(ivfCentroidsShared(s, dir)))
    } {
      ivfLloydCtes + ",\n" + ivfProbeCtes(RecallQueries) + "\n" + candTopKApprox
    },

    // PQ ANN (Jégou et al.: per-subspace codebooks compress the vector to
    // Pq.subspaces codes; ADC scores corpus CODES against a per-query
    // lookup table in exact grid-int64 arithmetic; the top-candK
    // candidates get an exact cosine re-rank). The oracle replays
    // encode + LUT + ADC + re-rank from Verify's codebook dump.
    topKGate("ann_pq") { (s, dir) =>
      val emb = tf(s, dir, "embeddings")
      Similarity.pqTopK(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numSubspaces = Pq.subspaces, numCentroids = Pq.centroids,
        candK = TopKQueries.candK, codebooks = Some(pqCodebooks(s, dir)))
    } {
      withE(pqApproxCtes(PqDump.dir(verifySfDir), TopKQueries) + selectApprox)
    },

    // PQ quality gate: what the compression + ADC candidate generation
    // costs after the exact re-rank.
    recallGate("ann_pq_recall", floor = 0.5) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.pqRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numSubspaces = Pq.subspaces, numCentroids = Pq.centroids,
        candK = RecallQueries.candK, codebooks = Some(pqCodebooks(s, dir)))
    } {
      pqApproxCtes(PqDump.dir(verifySfDir), RecallQueries)
    },

    // IVF-PQ residual index (IVFADC, Jégou et al. TPAMI'11 / FAISS
    // IVFx,PQy): coarse cells bound the scan to the probed inverted
    // lists; candidates rank by grid-exact ADC over residual PQ codes
    // (cell term + per-subspace LUT); exact re-rank emits top-k. The
    // oracle replays assign → residual → encode → ADC → re-rank from the
    // Lloyd CTEs + Verify's residual-codebook dump.
    topKGate("ann_ivfpq") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfpqTopK(
        emb, "vec_id", "embedding",
        TopKQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numCentroids = IvfPq.coarse.cells, nProbe = IvfPq.coarse.probes,
        numSubspaces = IvfPq.residual.subspaces, pqCentroids = IvfPq.residual.centroids,
        candK = TopKQueries.candK,
        coarse = Some(ivfCentroidsShared(s, dir)),
        residualCodebooks = Some(ivfpqCodebooks(s, dir)))
    } {
      withE(ivfLloydCtes + ",\n" +
        ivfpqApproxCtes(IvfPqDump.dir(verifySfDir), TopKQueries) + selectApprox)
    },

    // IVFADC quality gate, certified against a floor.
    recallGate("ann_ivfpq_recall", floor = 0.6) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfpqRecall(
        emb, "vec_id", "embedding",
        RecallQueries.of(emb), "vec_id", "embedding",
        dim = Dim, k = TopK, numCentroids = IvfPq.coarse.cells, nProbe = IvfPq.coarse.probes,
        numSubspaces = IvfPq.residual.subspaces, pqCentroids = IvfPq.residual.centroids,
        candK = RecallQueries.candK,
        coarse = Some(ivfCentroidsShared(s, dir)),
        residualCodebooks = Some(ivfpqCodebooks(s, dir)))
    } {
      ivfLloydCtes + ",\n" + ivfpqApproxCtes(IvfPqDump.dir(verifySfDir), RecallQueries)
    },

    // k-means topic clustering: per-vector cluster assignment + centroid
    // cosine (the input to domain discovery, cluster-balanced sampling,
    // SemDeDup pruning). Same seeded init + exact-arithmetic Lloyd rounds
    // as the IVF build, so the oracle replays training bit-exactly
    // through ivfLloydCtes.
    Gate("embed_kmeans") { (s, dir) =>
      Similarity.kmeansClusters(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = Ivf.cells, iters = Ivf.iters,
        centroids = Some(ivfCentroidsShared(s, dir)))
        .orderBy("vec_id")
    } {
      withE(ivfLloydCtes + "\n" +
        """SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
          |  round(list_cosine_similarity(e.v, c.cv), 6) AS centroid_cos
          |FROM assign a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cid = a.cid
          |ORDER BY a.vec_id""".stripMargin)
    },

    // SemDeDup proper (Abbas et al. 2023): k-means partition → pairwise
    // cosine ONLY within a cluster → keep the vector farther from its
    // centroid. The oracle re-derives the whole pipeline (codebook →
    // assignment → within-cell prune) bit-exactly. Contrast
    // embed_clusters (exact all-pairs CC): this is the ~linear published
    // curation shape.
    Gate("semdedup") { (s, dir) =>
      Similarity.semDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, k = Ivf.cells, iters = Ivf.iters,
        centroids = Some(ivfCentroidsShared(s, dir)))
        .orderBy("vec_id")
    } {
      withE(ivfLloydCtes + ",\n" +
        """asg AS (
          |  SELECT a.vec_id, a.cid,
          |    round(list_cosine_similarity(e.v, c.cv), 6) AS ccos
          |  FROM assign a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.cid = a.cid),
          |pruned AS (
          |  SELECT DISTINCT a.vec_id
          |  FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id <> a.vec_id
          |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
          |  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35
          |    AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
          |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id, a.ccos AS centroid_cos,
          |  (p.vec_id IS NOT NULL) AS pruned
          |FROM asg a LEFT JOIN pruned p ON p.vec_id = a.vec_id
          |ORDER BY a.vec_id""".stripMargin)
    })
}
