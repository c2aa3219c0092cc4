package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * train/val/test splits, stratified sampling, epoch-mixture replication,
  * per-group token-budget selection and quality cuts, sliding-window
  * document chunking, sequence packing, deterministic corpus shuffling,
  * and blocklist filtering.
  *
  * The reference pipeline (Vanessaaaaa0202/EHR_Data_PipeLine) has no
  * curation surface — its only selection ops are null-drop and
  * keep-first dedup (`data_quality_checker.py:244,340-352`); these
  * operators are part of the mandated LLM-data-pipeline extension
  * (SURVEY.md §2.11).
  *
  * Design for 100 TB:
  *   - Every membership decision (split / sample / mixture / order)
  *     hashes a NUMERIC id through a salted 60-bit Feistel mix built from
  *     non-overflowing int64 arithmetic, so the assignment is reproducible
  *     across engines and runs and stable under repartitioning.
  *     `randomSplit`/`sample` are NOT: they seed per partition, so adding
  *     one input file reshuffles every assignment — unacceptable when the
  *     split membership must be durable across pipeline re-runs. Each
  *     operator hashes with its own salt, so composed selections
  *     (sample → split → mixture) stay statistically independent.
  *   - Split and sample are narrow (no shuffle): they filter/annotate
  *     in place and preserve the upstream partitioning.
  *   - `tokenBudget`/`topFractionByGroup` shuffle once on the group key;
  *     a group's rows serialize through one window task, so groups are
  *     expected to be "source"-grained (thousands of rows), not
  *     corpus-grained. For a single giant group, cap rows first
  *     (e.g. topk by priority) or raise the budget granularity.
  *   - `packSequences`/`shuffleOrder` need a global total order — they
  *     run [[Prefix.exclusiveSums]], whose only driver step is over
  *     #partitions totals, never the data.
  *   - `chunkDocuments`/`epochMixture` fan out executor-side via
  *     `explode(sequence)` — never a driver loop; output rows inherit the
  *     input partitioning.
  */
object Curation {

  /** Buckets per whole: per-myriad (1/10000) gives 0.01% granularity. */
  val Myriad = 10000L

  // Per-operator salts: each selection operator hashes through a DIFFERENT
  // permutation of the id space, so composed selections are independent —
  // e.g. stratifiedSample → hashSplit must not hand the split the exact
  // bucket order the sample already selected on (unsalted, the sampled
  // survivors would all land in 'train').
  val SplitSalt = 1L
  val SampleSalt = 2L
  val MixtureSalt = 3L
  val ShuffleSalt = 4L
  val QuotaSalt = 5L
  val DateShiftSalt = 6L

  // 60-bit Feistel mix constants: the largest prime below 2^30 as the
  // round modulus, xxHash's public 32-bit primes as round multipliers.
  private val P30 = 1073741789L
  private val Mask30 = (1L << 30) - 1
  private val Mod60 = 1L << 60

  /** Deterministic pseudo-uniform bucket in [0, 10000) from a
    * non-negative numeric id (< 2^60; larger ids wrap): three-round
    * Feistel mix over 30-bit halves with multiplicative round functions
    * mod a 30-bit prime. Every operation is non-overflowing int64
    * arithmetic (`%`, `*`, `xor`, shifts on non-negative values), so any
    * ANSI-SQL engine reproduces the assignment bit-for-bit
    * ([[bucketSqlCte]] emits that SQL) — and unlike a bare multiplicative
    * hash reduced mod 10⁴, the mix is non-linear: id residue structure
    * (strided keys, sharded low bits) does not pass through to buckets.
    */
  def hashBucket(id: Column, salt: Long): Column =
    pmod(mix60(id, salt), lit(Myriad))

  /** The full 60-bit salted mix (see [[hashBucket]]): a bijection on
    * [0, 2^60) per salt — used directly where a total pseudo-random ORDER
    * is needed ([[shuffleOrder]]), where 10⁴ buckets would leave long
    * id-ordered runs inside each bucket.
    */
  def mix60(id: Column, salt: Long): Column = {
    val (s1, s2) = saltConstants(salt)
    val x = pmod(id.cast("long"), lit(Mod60))
    val h0 = shiftright(x, 30)
    val l0 = x.bitwiseAND(lit(Mask30))
    val l1 = l0.bitwiseXOR(lit(s1))
    val h1 = h0.bitwiseXOR(lit(s2))
    val l2 = l1.bitwiseXOR(pmod(h1 * lit(2654435761L) + lit(374761393L), lit(P30)))
    val h2 = h1.bitwiseXOR(pmod(l2 * lit(2246822519L) + lit(3266489917L), lit(P30)))
    val l3 = l2.bitwiseXOR(pmod(h2 * lit(3266489917L) + lit(668265263L), lit(P30)))
    shiftleft(h2, 30) + l3
  }

  /** Salt-derived round-entry constants, computed driver-side so the salt
    * costs nothing per row. Salt must be in [0, 2^30). */
  private def saltConstants(salt: Long): (Long, Long) = {
    require(salt >= 0 && salt <= Mask30, s"salt out of [0, 2^30): $salt")
    ((salt * 2654435761L + 2246822519L) % P30,
      (salt * 3266489917L + 668265263L) % P30)
  }

  /** ANSI-SQL CTE chain computing the same mix as [[mix60]]/[[hashBucket]]
    * over `fromSql` (a table name or subquery) — the oracle-parity form.
    * Exposes every source column plus `__mix60` and `__bucket`. All
    * intermediate values are non-negative, so `%` ≡ pmod and `>>`/`&`/
    * `xor(a,b)` behave identically across engines.
    */
  def bucketSqlCte(fromSql: String, idExpr: String, salt: Long): String = {
    val (s1, s2) = saltConstants(salt)
    s"""(WITH __m0 AS (SELECT *, (($idExpr) % $Mod60) AS __x FROM $fromSql),
       |__m1 AS (SELECT *, (__x >> 30) AS __h0, (__x & $Mask30) AS __l0 FROM __m0),
       |__m2 AS (SELECT *, xor(__l0, $s1) AS __l1, xor(__h0, $s2) AS __h1 FROM __m1),
       |__m3 AS (SELECT *, xor(__l1, (__h1 * 2654435761 + 374761393) % $P30) AS __l2 FROM __m2),
       |__m4 AS (SELECT *, xor(__h1, (__l2 * 2246822519 + 3266489917) % $P30) AS __h2 FROM __m3),
       |__m5 AS (SELECT *, xor(__l2, (__h2 * 3266489917 + 668265263) % $P30) AS __l3 FROM __m4)
       |SELECT *, (__h2 << 30) + __l3 AS __mix60, ((__h2 << 30) + __l3) % $Myriad AS __bucket
       |FROM __m5)""".stripMargin
  }

  /** Leakage-safe split: [[hashSplit]] keyed by the near-dup CLUSTER
    * (min-id over ≥threshold Jaccard components, [[Dedup.nearDupClusters]])
    * instead of the row id, so no near-duplicate pair ever straddles
    * train/eval — per-ROW splitting silently leaks paraphrases of
    * training documents into the eval set, the classic benchmark-
    * contamination failure. Clusters move as units; singletons (the vast
    * majority) split exactly as [[hashSplit]] would since their cluster
    * IS their id. Output: input columns + `cluster` + `split`; null-id
    * rows get null cluster/split (surfaced, never routed). Cost: one
    * near-dup clustering pass (bucketed LSH + min-label CC — this runs
    * CC's per-round actions eagerly) on top of hashSplit's free
    * arithmetic; reuse an already-computed cluster frame via
    * [[hashSplit]] on its cluster column when running several splits.
    */
  def leakageSafeSplit(
      df: DataFrame, textCol: String, idCol: String,
      trainPerMyriad: Int, valPerMyriad: Int,
      n: Int = 3, threshold: Double = 0.8,
      salt: Long = SplitSalt): DataFrame = {
    require(trainPerMyriad >= 0 && valPerMyriad >= 0
      && trainPerMyriad.toLong + valPerMyriad.toLong <= Myriad,
      s"shares out of range: train=$trainPerMyriad val=$valPerMyriad")
    val clusters = Dedup.nearDupClusters(df, textCol, idCol, n, threshold)
      .withColumnRenamed("id", "__lsid")
    val b = hashBucket(col("cluster"), salt)
    df.join(clusters, col(idCol) === col("__lsid"), "left")
      .drop("__lsid")
      .withColumn("split",
        when(col(idCol).isNull, lit(null).cast("string"))
          .when(b < trainPerMyriad, lit("train"))
          .when(b < trainPerMyriad.toLong + valPerMyriad, lit("val"))
          .otherwise(lit("test")))
  }

  /** Deterministic train/val/test assignment: adds a `split` column.
    * `trainPerMyriad`/`valPerMyriad` are shares out of 10000 (e.g.
    * 8000/1000 → 80% train, 10% val, 10% test). A row's split depends
    * only on its id — re-running over a grown corpus never reassigns an
    * existing row. A NULL id gets a NULL split (surfaced, never silently
    * routed to a split — a null-id row in 'test' would contaminate the
    * eval set with exactly the malformed rows).
    */
  def hashSplit(
      df: DataFrame, idCol: String,
      trainPerMyriad: Int, valPerMyriad: Int,
      salt: Long = SplitSalt): DataFrame = {
    // Long arithmetic: the Int sum could overflow past the bound check
    require(trainPerMyriad >= 0 && valPerMyriad >= 0
      && trainPerMyriad.toLong + valPerMyriad.toLong <= Myriad,
      s"shares out of range: train=$trainPerMyriad val=$valPerMyriad")
    val b = hashBucket(col(idCol), salt)
    df.withColumn("split",
      when(col(idCol).isNull, lit(null).cast("string"))
        .when(b < trainPerMyriad, lit("train"))
        .when(b < trainPerMyriad.toLong + valPerMyriad, lit("val"))
        .otherwise(lit("test")))
  }

  /** Deterministic stratified sample: keeps `ratesPerMyriad(stratum)` /
    * 10000 of each stratum (default rate for unlisted strata). The kept
    * set is a strict subset of any higher-rate kept set for the same ids
    * (nested samples — raising a rate only ADDS rows).
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, strataCol: String,
      ratesPerMyriad: Map[String, Int],
      defaultPerMyriad: Int = 0,
      salt: Long = SampleSalt): DataFrame = {
    require((defaultPerMyriad +: ratesPerMyriad.values.toSeq)
      .forall(r => r >= 0 && r <= Myriad), s"rates out of range: $ratesPerMyriad")
    val rate = ratesPerMyriad.foldLeft(lit(defaultPerMyriad)) {
      case (acc, (stratum, r)) => when(col(strataCol) === lit(stratum), lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < rate)
  }

  /** Deterministic PER-ROW weighted (Bernoulli) sampling: keep each row
    * with probability `weightPerMyriad / 10000`, where the weight is a
    * COLUMN — quality-proportional downsampling ("keep high-quality
    * docs at 100%, tail quality at 5%"), the continuous generalization
    * of [[stratifiedSample]]'s per-stratum rates. The coin is the same
    * salted id-hash bucket as the split/sample family, so the kept set
    * is deterministic, rerun-stable, and NESTED in the weight: raising
    * a row's weight can only ADD it, never drop a previously kept row
    * (monotone selection — the property incremental curation needs when
    * a quality model is recalibrated upward). Weights are clamped to
    * [0, 10000]; null ids and null weights drop (no coin, no keep —
    * surfaced by row-count accounting, not silently routed). Stateless
    * filter: pushes to the scan, zero shuffles.
    */
  def weightedSample(
      df: DataFrame, idCol: String, weightPerMyriad: Column,
      salt: Long = SampleSalt): DataFrame = {
    val w = least(greatest(weightPerMyriad.cast("long"), lit(0L)), lit(Myriad))
    df.filter(col(s"`$idCol`").isNotNull &&
      hashBucket(col(s"`$idCol`"), salt) < w)
  }

  /** Per-group document quota: keep at most `maxPerGroup` rows of each
    * group, chosen by the salted 60-bit mix of the id — a deterministic
    * "random" sample with no RNG, so reruns select identical rows. The
    * standard cap against boilerplate-heavy domains flooding a corpus
    * (per-domain caps in web curation). One hash shuffle on the group key;
    * the order is total (mix60 is a bijection per salt, id tiebreak), so
    * selection is reproducible across engines. Null ids are excluded (no
    * stable identity → no stable quota seat); a null GROUP is a real
    * group and gets its own quota.
    */
  def groupQuota(
      df: DataFrame, groupCol: String, idCol: String,
      maxPerGroup: Int, salt: Long = QuotaSalt): DataFrame = {
    require(maxPerGroup >= 1, s"maxPerGroup must be positive: $maxPerGroup")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(mix60(col(idCol), salt).asc, col(idCol).asc)
    df.filter(col(idCol).isNotNull)
      .withColumn("__qrn", row_number().over(w))
      .filter(col("__qrn") <= maxPerGroup)
      .drop("__qrn")
  }

  /** Greedy per-group token-budget selection: within each `groupCol`
    * partition, rows are taken in (`priority` desc, `idCol` asc) order
    * while the running token total stays ≤ `budget`; adds `cum_tokens`.
    * Strict budget: a row whose tokens alone exceed the remaining budget
    * is dropped (and so is everything after it in that group). A NULL
    * token count is never selected (its cost is unknowable) and
    * contributes 0 to the running total — so one malformed row neither
    * poisons the cumulative sum to NULL nor sneaks in free.
    */
  def tokenBudget(
      df: DataFrame, groupCol: String, tokenCol: String,
      priority: Column, idCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(priority.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens",
        sum(coalesce(col(tokenCol).cast("long"), lit(0L))).over(w))
      .filter(col("cum_tokens") <= budget && col(tokenCol).isNotNull)
  }

  /** Sliding-window character chunking: one output row per (doc, chunk),
    * chunk starts at offsets 0, stride, 2·stride, … < length(text), each
    * chunk `chunkSize` characters (the last one shorter). Chunk count =
    * ceil(len / stride); null/empty docs yield no rows. Adds `chunk_id`
    * (0-based) and `chunk_text`; overlap = chunkSize − stride when
    * chunkSize > stride.
    */
  def chunkDocuments(
      df: DataFrame, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, s"chunkSize=$chunkSize stride=$stride")
    val tc = s"`$textCol`"
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      // integral DIV: float ceil drifts for lengths near 2^53 and
      // engines disagree on rounding — (len + stride - 1) DIV stride.
      .withColumn("chunk_id",
        explode(sequence(lit(0), expr(s"(length($tc) + ${stride - 1}) DIV $stride").cast("int") - 1)))
      .withColumn("chunk_text",
        expr(s"substring($tc, chunk_id * $stride + 1, $chunkSize)"))
  }

  /** Sentence-boundary sentinel (U+0001 — absent from text corpora;
    * documents containing it would need a different sentinel).
    */
  private val SentenceSep = "\u0001"

  /** The shared boundary rule: terminal `[.!?]` followed by whitespace.
    * The whitespace class is EXPLICIT (space, tab, LF, FF, CR — not `\s`)
    * because Java's `\s` includes vertical tab and RE2's does not, and
    * the sentence_split oracle must reproduce the rule bit-for-bit.
    * Trailing empty fragments (text ending in punctuation + whitespace)
    * are dropped — boundary residue, not sentences.
    */
  private def sentenceArray(textCol: Column): Column =
    filter(
      split(
        regexp_replace(textCol, "([.!?])[ \\t\\n\\f\\r]+", "$1" + SentenceSep),
        SentenceSep),
      s => s =!= "")

  /** Sentence segmentation: one row per sentence with its 0-based index,
    * preserving the terminal punctuation. Sentinel-insert + split
    * (instead of a lookbehind, which RE2-based engines can't run) keeps
    * the rule portable to the SQL oracle; [[sentenceArray]] is the ONE
    * boundary definition this and [[chunkBySentences]] share. Narrow
    * explode — fans out where the row lives. Null/empty text produces no
    * rows.
    */
  def splitSentences(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(
        col(idCol),
        posexplode(sentenceArray(col(textCol)))
          .as(Seq("sent_idx", "sentence")))

  /** Sentence-aware chunking (the RAG/training-prep split): greedy-pack
    * consecutive sentences into chunks of at most `maxChars` characters
    * (joined with one space), never splitting inside a sentence; a single
    * sentence longer than `maxChars` becomes its own oversized chunk.
    * Same per-row `aggregate` fold as [[graft.ops.Dedup.dedupLinesWithinDoc]] —
    * shuffle-free; greedy packing is order-recursive, so the fold (not a
    * window) is the right primitive. Segmentation is oracle-gated via
    * [[splitSentences]]; the packing rule is spec-pinned.
    */
  def chunkBySentences(
      df: DataFrame, textCol: String, idCol: String, maxChars: Int): DataFrame = {
    require(maxChars > 0, s"maxChars must be positive: $maxChars")
    val sentences = sentenceArray(col(textCol))
    val emptyArr = array().cast("array<string>")
    val packed = aggregate(
      sentences,
      struct(emptyArr.as("chunks"), lit("").as("cur")),
      (acc, s) => {
        val cur = acc.getField("cur")
        val chunks = acc.getField("chunks")
        val fits = length(cur) + lit(1) + length(s) <= maxChars
        struct(
          when(cur === "", chunks)
            .when(fits, chunks)
            .otherwise(array_append(chunks, cur)).as("chunks"),
          when(cur === "", s)
            .when(fits, concat(cur, lit(" "), s))
            .otherwise(s).as("cur"))
      },
      acc => when(acc.getField("cur") === "", acc.getField("chunks"))
        .otherwise(array_append(acc.getField("chunks"), acc.getField("cur"))))
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), posexplode(packed).as(Seq("chunk_id", "chunk_text")))
  }

  /** Keep the top `keepPerMyriad`/10000 fraction of every group by
    * `score` (desc, `idCol` as the deterministic tiebreak) — the
    * "top-20%-quality per language" curation cut. Rank-based, so the cut
    * is exact: ceil(fraction × group size) rows per group, regardless of
    * score distribution (a value threshold would wobble with the corpus
    * mix). One shuffle on the group key; a group's rows rank through one
    * window task, so groups are expected source/language-grained.
    */
  def topFractionByGroup(
      df: DataFrame, groupCol: String, score: Column, idCol: String,
      keepPerMyriad: Long): DataFrame = {
    require(keepPerMyriad >= 0 && keepPerMyriad <= Myriad,
      s"keepPerMyriad out of range: $keepPerMyriad")
    val rankW = Window.partitionBy(col(groupCol)).orderBy(score.desc, col(idCol).asc)
    df.withColumn("__rank", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("__rank").cast("long") <=
        expr(s"(__n * $keepPerMyriad + ${Myriad - 1}) DIV $Myriad"))
      .drop("__rank", "__n")
  }

  /** CCNet-style rank bucketing (Wenzek et al., LREC 2020 §4.3): rank
    * every row within its group by `score` (desc — best first; `idCol`
    * the deterministic tiebreak) and cut each group into `buckets`
    * contiguous rank slices — bucket 1 is CCNet's "head" (the
    * best-scoring third at buckets=3), the last its "tail". CCNet runs
    * this per language over document LM perplexity to stage training
    * data by quality; composed in the registry with
    * [[TextStats.unigramFamiliarity]], whose exact-arithmetic
    * familiarity is the low-perplexity proxy (high = head). Exact rank
    * arithmetic, not ntile: `bucket = 1 + ((rank−1)·buckets) DIV n` —
    * every slice edge is one int64 expression, so engine and oracle can
    * never disagree on a boundary row.
    *
    * Scale shape: ONE hash shuffle on the group key; each group ranks
    * through one window task (the [[topFractionByGroup]] contract —
    * groups are language/source-grained by design). If a single
    * language outgrows a task at 100 TB, swap the in-group window for
    * [[rankByOrder]]'s two-phase distributed rank, run per group.
    */
  def rankBuckets(
      df: DataFrame, groupCol: String, score: Column, idCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    val rankW = Window.partitionBy(col(groupCol)).orderBy(score.desc, col(idCol).asc)
    df.withColumn("__rank", row_number().over(rankW).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(groupCol))).cast("long"))
      .withColumn("bucket", expr(s"1L + ((__rank - 1L) * ${buckets}L) DIV __n"))
      .drop("__rank", "__n")
  }

  /** Sequence packing: assign every document a global token offset in the
    * id-ordered concatenated token stream, and the training-sequence id it
    * starts in (`seq_id = start_offset DIV capacity`). This is the layout
    * step that turns a curated corpus into fixed-length training
    * sequences; `spans_boundary` marks docs crossing a sequence edge.
    *
    * The naive form is a GLOBAL cumulative sum — a single-partition window
    * that serializes the whole corpus through one task. This runs
    * [[Prefix.exclusiveSums]] over the id order instead (`numPartitions`
    * fixes its range partition count; 0 = the session's choice). Output
    * values are partitioning-independent: the offset is defined by the
    * total order on `idCol` alone (ids must be unique); a null token
    * count adds 0.
    */
  def packSequences(
      df: DataFrame, idCol: String, tokenCol: String,
      capacity: Long, numPartitions: Int = 0): DataFrame = {
    require(capacity > 0, s"capacity=$capacity")
    Prefix.exclusiveSums(df, Seq(col(idCol)),
        Seq("start_offset" -> col(tokenCol)), numPartitions)
      .withColumn("seq_id", expr(s"start_offset DIV $capacity"))
      .withColumn("seq_pos", pmod(col("start_offset"), lit(capacity)))
      .withColumn("spans_boundary",
        expr(s"(start_offset + `$tokenCol` - 1) DIV $capacity") > col("seq_id"))
  }

  /** 0-based dense global rank under `orderCols` (which must be a TOTAL
    * order — include a unique tiebreak column): a count prefix through
    * [[Prefix.exclusiveSums]], so no single-task global window at any
    * size. Public seam for rank-based derivations — equi-depth binning
    * ([[Profiling.equidepthBins]]), exact ECDF positions, curriculum
    * ordering by a score column.
    */
  def rankByOrder(
      df: DataFrame, orderCols: Seq[Column],
      outCol: String = "rank"): DataFrame =
    Prefix.exclusiveSums(df, orderCols, Seq(outCol -> lit(1L)))

  /** Source-interleaved training order: every source's documents are
    * shuffled WITHIN the source ([[mix60]], same machinery as
    * [[shuffleOrder]]), then the streams are round-robined — all
    * sources' position-1 docs first, then position-2, and so on. This
    * is the stride-interleave mixture order: a plain global shuffle
    * makes same-source runs of length ~n_src/n statistically common,
    * while interleaving bounds the gap between consecutive same-source
    * docs at ≈ the number of live sources — the property curriculum
    * and mixture schedules actually want. Sources of different sizes
    * simply drop out of the rotation when exhausted (position > n_s).
    * Output: input columns + `interleave_rank` (0-based, total).
    *
    * Scale shape: one window by source (hash exchange + in-partition
    * sort) for positions, then the [[rankByOrder]] distributed prefix
    * sum over (position, source, id) — no single-task global window.
    */
  def interleaveBySource(
      df: DataFrame, idCol: String, sourceCol: String,
      salt: Long = ShuffleSalt): DataFrame = {
    val wSrc = Window.partitionBy(col(s"`$sourceCol`"))
      .orderBy(col("__mix"), col(s"`$idCol`"))
    val positioned = df
      .withColumn("__mix", mix60(col(s"`$idCol`"), salt))
      .withColumn("__pos", row_number().over(wSrc).cast("long"))
    rankByOrder(positioned,
      Seq(col("__pos"), col(s"`$sourceCol`"), col(s"`$idCol`")),
      outCol = "interleave_rank")
      .drop("__mix", "__pos")
  }

  /** Epoch-mixture replication: repeat each row `weights(stratum)` times
    * (fractional part resolved deterministically per id — a weight of 2.3
    * gives every row 2 copies and 30% of rows a third). The standard
    * pretraining mixture step: upsample high-quality sources, downsample
    * (weight < 1) the rest. Adds `copy_id` (0-based). Fan-out is
    * executor-side `explode(sequence)`; weight 0 / unlisted strata drop.
    */
  def epochMixture(
      df: DataFrame, idCol: String, strataCol: String,
      weights: Map[String, Double],
      salt: Long = MixtureSalt): DataFrame = {
    require(weights.values.forall(w => w >= 0 && w <= 1000), s"weights out of range: $weights")
    val wholes = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(strataCol) === lit(s), lit(math.floor(w).toLong)).otherwise(acc)
    }
    val fracPerMyriad = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(strataCol) === lit(s),
        lit(math.round((w - math.floor(w)) * Myriad))).otherwise(acc)
    }
    df.withColumn("__copies",
        wholes + when(hashBucket(col(idCol), salt) < fracPerMyriad, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("copy_id", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Temperature-rebalanced group downsampling — the multilingual /
    * multi-source α-sampling of XLM-R/mT5 applied as corpus curation:
    * keep `floor(n_g^α · n_min^(1−α))` rows of each group, so effective
    * counts follow the temperature curve p_g ∝ n_g^α anchored at the
    * smallest group (α = 1 keeps everything; α → 0 flattens every group
    * to ~n_min). Within a group the kept rows are the first
    * `m_g` under the salted-mix total order ([[groupQuota]]'s machinery)
    * — deterministic across runs and engines, no RNG.
    *
    * α = 0.5 (default) is EXACT cross-engine arithmetic: the target is
    * `floor(sqrt(n_g · n_min))` — an int64 product under IEEE
    * correctly-rounded sqrt — so a hash oracle replays it bit-for-bit.
    * Other α route through `pow`, whose last ulp may differ across libm
    * builds: fine in production, not for a hash gate.
    *
    * Scale shape: per-group counts are a tiny aggregate (rows = number
    * of groups) broadcast back; the only data-sized move is ONE hash
    * shuffle on the group for the quota window. A null group is a real
    * group (null-safe join); null ids are excluded (no stable identity,
    * same contract as [[groupQuota]]).
    */
  def temperatureMixture(
      df: DataFrame, groupCol: String, idCol: String,
      alpha: Double = 0.5, salt: Long = MixtureSalt): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha out of (0, 1]: $alpha")
    val rows = df.filter(col(s"`$idCol`").isNotNull)
    val counts = rows.groupBy(col(s"`$groupCol`").as("__tg"))
      .agg(count(lit(1)).as("__ng"))
    val withMin = counts.crossJoin(broadcast(counts.agg(min(col("__ng")).as("__nmin"))))
    val target =
      if (alpha == 0.5)
        // multiply as doubles: the int64 product n_g·n_min overflows
        // (wrapping to a negative → sqrt NaN → target 0, silently
        // emptying the group) once both groups pass ~3e9 rows — exactly
        // the scale this op targets. Exact below 2^53, sub-ulp above;
        // sqrt+floor is insensitive to that. Oracle multiplies the same
        // way.
        floor(sqrt(col("__ng").cast("double") * col("__nmin").cast("double")))
          .cast("long")
      else
        floor(pow(col("__ng").cast("double"), lit(alpha)) *
          pow(col("__nmin").cast("double"), lit(1.0 - alpha))).cast("long")
    val targets = withMin.select(col("__tg"), target.as("__mg"))
    val w = Window.partitionBy(col(s"`$groupCol`"))
      .orderBy(mix60(col(s"`$idCol`"), salt).asc, col(s"`$idCol`").asc)
    rows
      .join(broadcast(targets), col(s"`$groupCol`") <=> col("__tg"), "inner")
      .withColumn("__trn", row_number().over(w))
      .filter(col("__trn") <= col("__mg"))
      .drop("__trn", "__mg", "__tg")
  }

  /** Leave-last-out temporal split — the per-entity evaluation protocol
    * for sequential data (recsys / next-event prediction): each
    * entity's `k` MOST RECENT events become `test`, everything earlier
    * is `train`. This is the split [[hashSplit]] cannot express: a
    * random split leaks the future into training (a model sees a
    * user's later events while predicting their earlier ones), and a
    * single global time cutoff starves recently-arrived entities of
    * training history — leave-last-out holds time out PER ENTITY.
    * Recency ranks by `(ts, id)` descending, so equal-timestamp events
    * split deterministically. Entities with ≤ k events go entirely to
    * `test` (they have no trainable past — downstream either drops
    * them or treats them as cold-start cases; the split makes that
    * population visible instead of silently training on it).
    *
    * Scale shape: ONE hash shuffle on the entity key + a per-entity
    * window — partitions bounded by per-entity history length, never
    * corpus size. Null key/ts/id rows are excluded (they belong to no
    * entity timeline).
    */
  def leaveLastOut(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, k: Int = 1): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val key = col(s"`$keyCol`")
    val ts = col(s"`$tsCol`")
    val id = col(s"`$idCol`")
    val w = Window.partitionBy(key).orderBy(ts.desc, id.desc)
    df.filter(key.isNotNull && ts.isNotNull && id.isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("split",
        when(col("__rn") <= k, lit("test")).otherwise(lit("train")))
      .drop("__rn")
  }

  /** Smoothed target encoding — the category→value feature table for a
    * high-cardinality categorical column: each category's encoding is
    * its label mean SHRUNK toward the global mean by a prior weight `m`
    * (micci-barreca 2001, the standard leakage-aware form when applied
    * out-of-fold):
    * {{{ enc_c = (Σ_c y + m·μ) / (n_c + m),  μ = T/N
    *     enc_fp = (Σ_c y·N + m·T)·scale DIV (N·(n_c + m))  // ONE floor }}}
    * The global-mean term is kept RATIONAL (μ never materializes as a
    * float): the whole encoding floors once on the common denominator,
    * so any ANSI engine replays it bit-for-bit. Products run in
    * decimal(38,0) (`Σy·N ≤ N²` overflows int64 past ~3e9 rows); the
    * emitted enc_fp ≤ scale. Output one row per category:
    * (category, n, sum_y, enc_fp, enc). Null categories and null/NaN
    * labels are excluded. Apply by broadcast-joining the table to rows; for
    * leakage-safe training features, compute on the TRAIN fold only and
    * join to val/test — never on the full corpus (the doc'd contract;
    * this op builds the table, the split discipline is [[hashSplit]]'s).
    *
    * Scale shape: one map-side-combined groupBy to the category
    * relation + a 1-row totals broadcast. Nothing row-sized after.
    */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
      priorWeight: Long = 10L, scale: Long = 1000000L): DataFrame = {
    require(priorWeight >= 0, s"priorWeight must be >= 0: $priorWeight")
    require(scale >= 1, s"scale must be positive: $scale")
    val c = col(s"`$catCol`").cast("string")
    val y = col(s"`$labelCol`").cast("long")
    // NaN labels are malformed, not negatives: cast(long) would grid NaN
    // to 0 under non-ANSI casts, silently counting it in n/sum_y — same
    // exclusion policy as ipwEstimate's outcome filter
    val perC = df.filter(c.isNotNull && y.isNotNull &&
        !isnan(col(s"`$labelCol`").cast("double")))
      .select(c.as(catCol), y.as("__y"))
      .groupBy(col(s"`$catCol`"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sum_y"))
    val tot = perC.agg(
      sum(col("n")).as("__nt"), sum(col("sum_y")).as("__tt"))
    val dec = "decimal(38,0)"
    perC.crossJoin(broadcast(tot))
      .withColumn("__num",
        (col("sum_y").cast(dec) * col("__nt").cast(dec) +
          lit(priorWeight).cast(dec) * col("__tt").cast(dec)) *
          lit(scale).cast(dec))
      .withColumn("__den",
        col("__nt").cast(dec) * (col("n") + lit(priorWeight)).cast(dec))
      .withColumn("enc_fp", expr("__num DIV __den"))
      .select(col(s"`$catCol`"), col("n"), col("sum_y"), col("enc_fp"),
        round(col("enc_fp").cast("double") / lit(scale.toDouble), 6)
          .as("enc"))
  }

  /** End-to-end curation driver — the composed "raw crawl in, training
    * corpus out" path a user of the library actually runs, as ONE lazy
    * plan: Gopher rule filter → exact content dedup (projected form: the
    * dedup shuffle carries (hash, id) pairs, never document bodies) →
    * deterministic train/val/test split. Each stage is an
    * individually-oracled operator; composing them here adds no new
    * semantics, just the integration contract (stage order, null-id
    * exclusion up front) — and ONE plan means Catalyst pushes the filter
    * into the scan and the whole thing runs without materializing
    * intermediates.
    */
  def curateCorpus(
      df: DataFrame, idCol: String, textCol: String,
      trainPerMyriad: Int = 9800, valPerMyriad: Int = 100,
      salt: Long = SplitSalt): DataFrame =
    hashSplit(
      graft.ops.Dedup.exactByContentProjected(
        graft.ops.TextStats.gopherFilter(
          df.filter(col(s"`$idCol`").isNotNull), textCol),
        textCol, idCol),
      idCol, trainPerMyriad, valPerMyriad, salt)

  /** FineWeb/C4-style WEB-curation pipeline as one lazy plan, one stage
    * deeper than [[curateCorpus]]: C4 line-level cleanup first
    * ([[graft.ops.TextStats.c4LineFilter]] — boilerplate/short/
    * punctuation-less lines dropped, brace and lorem-ipsum documents
    * dropped whole, per the published C4 rules), then the standard
    * Gopher filter → projected exact dedup → hash split over the
    * CLEANED text. Line cleanup before dedup matters: boilerplate-only
    * differences (cookie banners) stop splitting duplicate groups.
    * `textCol` is replaced by the cleaned text in the output; documents
    * whose every line is dropped are removed (nothing left to train
    * on). The input must not already carry the c4LineFilter output
    * column names (`text_clean`, `n_lines`, `n_kept`, `has_brace`,
    * `has_lorem`).
    */
  def curateWebCorpus(df: DataFrame, idCol: String, textCol: String,
      trainPerMyriad: Int = 9800, valPerMyriad: Int = 100,
      salt: Long = SplitSalt): DataFrame = {
    val c4 = graft.ops.TextStats.c4LineFilter(col(s"`$textCol`"))
    val cleaned = df
      .select(col("*") +: c4: _*)
      .filter(col("has_brace") === 0 && col("has_lorem") === 0 &&
        length(col("text_clean")) > 0)
      .drop(textCol, "n_lines", "n_kept", "has_brace", "has_lorem")
      .withColumnRenamed("text_clean", textCol)
    curateCorpus(cleaned, idCol, textCol, trainPerMyriad, valPerMyriad, salt)
  }

  /** Deterministic corpus shuffle: a stable pseudo-random total order
    * with the global position exposed as `shuffle_rank`. Reproducible
    * across runs/engines — the property a training-order shuffle needs
    * that `orderBy(rand())` lacks. Orders by the FULL 60-bit salted mix
    * (id tiebreak only for ids ≥ 2^60 that wrap) — a coarse 10⁴-bucket
    * key would leave id-ordered runs of ~n/10⁴ consecutive rows, i.e.
    * chronological curriculum drift at corpus scale. The rank is a count
    * prefix sum via [[Prefix.exclusiveSums]], so no single-task global
    * window.
    */
  def shuffleOrder(df: DataFrame, idCol: String,
      salt: Long = ShuffleSalt): DataFrame =
    Prefix.exclusiveSums(
      df.withColumn("__mix", mix60(col(idCol), salt)),
      Seq(col("__mix"), col(idCol)), Seq("shuffle_rank" -> lit(1L)))
      .drop("__mix")

  /** Remove rows whose `keyCol` appears in `blocklist` (left anti-join) —
    * the "known-bad ids" corpus filter (contaminated docs, opt-outs,
    * flagged PII). Blocklists are usually tiny next to the corpus →
    * broadcast by default; disable for a corpus-scale blocklist and let
    * sort-merge/AQE handle it.
    */
  def blocklistFilter(
      df: DataFrame, blocklist: DataFrame, keyCol: String,
      broadcastBlocklist: Boolean = true): DataFrame = {
    val keys = blocklist.select(col(keyCol)).distinct()
    df.join(if (broadcastBlocklist) broadcast(keys) else keys, Seq(keyCol), "left_anti")
  }

  /** Keep only rows whose `keyCol` appears in `allowlist` (left semi-join)
    * — the dual of [[blocklistFilter]].
    */
  def allowlistFilter(
      df: DataFrame, allowlist: DataFrame, keyCol: String,
      broadcastAllowlist: Boolean = true): DataFrame = {
    val keys = allowlist.select(col(keyCol)).distinct()
    df.join(if (broadcastAllowlist) broadcast(keys) else keys, Seq(keyCol), "left_semi")
  }

  /** Morton (z-order) interleave of the low `bits` bits of two
    * non-negative int columns: bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Pure declarative bit arithmetic (shifts/AND over
    * int64 — codegen'd, no UDF), identical in any engine. Inputs must
    * already be bucketed to `bits` bits (e.g. `% 1024` for 10) — values
    * beyond that range fold into the same curve cell only if the caller
    * buckets them; this function masks, it does not rescale.
    */
  def zorderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be 1..31: $bits")
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Cluster a table along a two-dimensional z-order curve: range-
    * partition then sort within partitions by the Morton value (and the
    * tiebreak columns, for determinism). The layout lever behind
    * multi-dimensional data skipping — after writing in this order,
    * min/max column statistics prune scans on EITHER dimension, not just
    * the lead sort key. No extra shuffle beyond the one range exchange
    * any global sort pays.
    */
  def zorderBy(
      df: DataFrame, a: Column, b: Column, bits: Int = 16,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    val z = zorderValue(a, b, bits)
    df.repartitionByRange((z +: tiebreak).map(_.asc): _*)
      .sortWithinPartitions((z +: tiebreak).map(_.asc): _*)
  }

  /** The DuckDB-parity SQL for [[zorderValue]] — same term order. */
  def zorderSqlExpr(aExpr: String, bExpr: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, s"bits must be 1..31: $bits")
    (0 until bits).map { i =>
      s"((($aExpr) >> $i) & 1) * ${1L << (2 * i)}" +
        s" + ((($bExpr) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")
  }

  /** Snapshot diff between two corpus versions: one row per id with
    * `status` ∈ added / removed / changed / unchanged, where "changed"
    * compares `compareCols` null-safely (a column going NULL ↔ non-NULL
    * is a change, never a silent match). The audit step of incremental
    * ingestion — what did this refresh actually do to the corpus?
    *
    * Scale shape: one full-outer shuffle join on the id; presence is
    * tracked with marker literals, not id-null checks, so null-id rows
    * on either side never alias as missing. Project before calling if
    * rows are wide — the join ships the compared columns.
    */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame, idCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must not be empty")
    val o = oldDf.select(col(idCol).as("__id"),
      struct(compareCols.map(col): _*).as("__old"), lit(1).as("__ol"))
    val n = newDf.select(col(idCol).as("__id"),
      struct(compareCols.map(col): _*).as("__new"), lit(1).as("__nr"))
    o.join(n, Seq("__id"), "full_outer")
      .select(
        col("__id").as(idCol),
        when(col("__ol").isNull, lit("added"))
          .when(col("__nr").isNull, lit("removed"))
          .when(col("__old") <=> col("__new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
