package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution profiling: fixed-bin histograms and snapshot-drift
  * scoring (PSI) — the monitoring primitives that catch a corpus whose
  * value distribution moved between ingests.
  */
object Profiling {

  /** Fixed-bin histogram of `valueCol` over [lo, hi): `bins` equal-width
    * bins plus underflow (−1) and overflow (`bins`) bins, so no value is
    * silently dropped and the bin count is data-independent (the
    * property that makes two snapshots' histograms comparable — and the
    * whole thing one map-side-combined aggregation, rows = bins + 2 at
    * any corpus size). Bin edges are derived arithmetically from the bin
    * id downstream, not stored per row. Null values are excluded (they
    * are a missingness stat, not a distribution stat — see
    * missingProfile).
    */
  /** The shared bin id expression — the single definition [[histogram]]
    * and the streaming windowed histogram build on, so batch and stream
    * binning cannot fork.
    */
  private[graft] def binColumn(v: Column, lo: Double, hi: Double, bins: Int): Column = {
    require(bins >= 1, s"bins must be positive: $bins")
    require(lo < hi, s"empty range: [$lo, $hi)")
    val w = (hi - lo) / bins
    when(v < lo, lit(-1L))
      .when(v >= hi, lit(bins.toLong))
      .otherwise(least(floor((v - lo) / w).cast("long"), lit(bins.toLong - 1)))
  }

  def histogram(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val v = col(s"`$valueCol`")
    df.filter(v.isNotNull)
      .groupBy(binColumn(v, lo, hi, bins).as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Population Stability Index between a BASE and a CURRENT snapshot of
    * `valueCol`, over the shared [lo, hi) histogram: per bin,
    * `(q_i − p_i) · ln(q_i / p_i)` with Laplace-smoothed shares
    * (`(n_i + 1) / (N + bins + 2)` — empty bins would otherwise make the
    * log undefined and the smoothing is identical on both snapshots, so
    * a no-drift pair still scores ≈ 0). The industry-standard drift
    * alarm: PSI < 0.1 stable, > 0.25 investigate. Emits one row per bin
    * (shares rounded to 6, term rounded to 6); the total is the
    * downstream SUM. Two bins+2-row aggregates and a tiny outer join —
    * nothing data-sized moves after the scans.
    */
  def psi(base: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    def hist(df: DataFrame, nOut: String, tOut: String): (DataFrame, DataFrame) = {
      val h = histogram(df, valueCol, lo, hi, bins)
      (h.select(col("bin"), col("n").as(nOut)),
        h.agg(sum(col("n")).as(tOut)))
    }
    val (p, pt) = hist(base, "__pn", "__pt")
    val (q, qt) = hist(current, "__qn", "__qt")
    // every bin appears in the output (absent bins carry their smoothed
    // floor share), and the totals ride along as one-row broadcasts —
    // no driver-side actions, the whole score is one lazy plan
    base.sparkSession.range(-1, bins + 1).select(col("id").as("bin"))
      .join(p, Seq("bin"), "left")
      .join(q, Seq("bin"), "left")
      .crossJoin(broadcast(pt))
      .crossJoin(broadcast(qt))
      .select(col("bin"),
        ((coalesce(col("__pn"), lit(0L)) + 1).cast("double") /
          (col("__pt").cast("double") + (bins + 2))).as("__p"),
        ((coalesce(col("__qn"), lit(0L)) + 1).cast("double") /
          (col("__qt").cast("double") + (bins + 2))).as("__q"))
      .select(col("bin"),
        round(col("__p"), 6).as("base_share"),
        round(col("__q"), 6).as("cur_share"),
        round((col("__q") - col("__p")) * log(col("__q") / col("__p")), 6)
          .as("psi_term"))
  }

  /** Jensen–Shannon drift terms — the BOUNDED, SYMMETRIC companion to
    * [[psi]] over the same smoothed fixed-bin histograms: with
    * `m = (p+q)/2`,
    * {{{ jsd_term = ½·p·ln(p/m) + ½·q·ln(q/m)   // ≥ 0, Σ ≤ ln 2 }}}
    * Where PSI is unbounded (one emptied bin dominates the score) and
    * asymmetric (base↔current matters), JSD is a bounded metric-like
    * divergence — the right alarm when snapshots swap roles across runs
    * or heavy-tail bins empty out; `sqrt(Σ terms)` is a true metric.
    * Same Laplace smoothing, same bins+2 under/overflow rows, same
    * one-lazy-plan shape as [[psi]] (two histograms, two 1-row total
    * broadcasts, per-bin arithmetic). Terms round(6) like every float
    * here; Σ is the caller's one-line aggregate.
    */
  def jsdDrift(base: DataFrame, current: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    def hist(df: DataFrame, nOut: String, tOut: String): (DataFrame, DataFrame) = {
      val h = histogram(df, valueCol, lo, hi, bins)
      (h.select(col("bin"), col("n").as(nOut)),
        h.agg(sum(col("n")).as(tOut)))
    }
    val (p, pt) = hist(base, "__pn", "__pt")
    val (q, qt) = hist(current, "__qn", "__qt")
    base.sparkSession.range(-1, bins + 1).select(col("id").as("bin"))
      .join(p, Seq("bin"), "left")
      .join(q, Seq("bin"), "left")
      .crossJoin(broadcast(pt))
      .crossJoin(broadcast(qt))
      .select(col("bin"),
        ((coalesce(col("__pn"), lit(0L)) + 1).cast("double") /
          (col("__pt").cast("double") + (bins + 2))).as("__p"),
        ((coalesce(col("__qn"), lit(0L)) + 1).cast("double") /
          (col("__qt").cast("double") + (bins + 2))).as("__q"))
      .withColumn("__m", (col("__p") + col("__q")) / lit(2d))
      .select(col("bin"),
        round(col("__p"), 6).as("base_share"),
        round(col("__q"), 6).as("cur_share"),
        round(lit(0.5) * col("__p") * log(col("__p") / col("__m")) +
          lit(0.5) * col("__q") * log(col("__q") / col("__m")), 6)
          .as("jsd_term"))
  }

  /** Per-group winsorization: clamp `valueCol` into its group's
    * [loQ, hiQ] percentile band — the distribution-aware outlier repair
    * applied before numeric features reach training (a fat-finger value
    * stops dominating the loss without dropping the row). Adds
    * `<valueCol>_w` (clamped; null stays null — least/greatest would
    * silently resurrect nulls AT the bound) and `was_clamped` (0/1).
    * Scale shape: one groups-sized percentile aggregate broadcast back;
    * the data-sized pass is a narrow projection. `accuracy = 0` (the
    * default) uses EXACT interpolated percentiles (Spark `percentile` —
    * deterministic, oracle-mirrorable via `quantile_cont`) at the cost of
    * buffering every group value in the aggregate: the per-group sort
    * buffer is the bottleneck once single groups reach 10⁸+ rows.
    * `accuracy > 0` is the scale lever: `approx_percentile` with that
    * accuracy — aggregation state is O(accuracy · log n) per group
    * (a Greenwald-Khanna sketch, merged map-side) instead of
    * O(group size), with rank error ≤ n/accuracy (spec-bounded in
    * ProfilingSpec). Bounds become rank-approximate; clamping semantics
    * are otherwise identical.
    */
  /** Exact (`accuracy = 0`) or sketch-approximate percentile aggregate —
    * the single definition both [[winsorize]] and [[distributionProfile]]
    * build on, so the exact/approx semantics cannot fork.
    */
  private def percentileExpr(valueCol: String, q: Double, accuracy: Int): Column =
    if (accuracy == 0) expr(s"percentile(`$valueCol`, $q)")
    else expr(s"approx_percentile(`$valueCol`, $q, $accuracy)").cast("double")

  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double = 0.05, hiQ: Double = 0.95, accuracy: Int = 0): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ <= hiQ, s"bad band: [$loQ, $hiQ]")
    require(accuracy >= 0, s"accuracy must be >= 0 (0 = exact): $accuracy")
    val v = col(s"`$valueCol`")
    val bounds = df
      .groupBy(col(s"`$groupCol`").as("__g"))
      .agg(percentileExpr(valueCol, loQ, accuracy).as("__lo"),
        percentileExpr(valueCol, hiQ, accuracy).as("__hi"))
    df.join(broadcast(bounds), col(s"`$groupCol`") <=> col("__g"), "left")
      .withColumn(s"${valueCol}_w",
        when(v.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(v, col("__lo")), col("__hi"))))
      .withColumn("was_clamped",
        when(v < col("__lo") || v > col("__hi"), 1).otherwise(0))
      .drop("__g", "__lo", "__hi")
  }

  /** Whole-corpus distribution profile of a numeric column: count, min,
    * max and the requested quantiles (`p5`, `p25`, … — names derived
    * from the quantile ×100, fractional points keep one decimal as
    * `p99_9`). `accuracy = 0` (default) = exact interpolated
    * `percentile` — one aggregate whose buffer holds EVERY value, fine
    * to ~10⁸ rows per aggregation, oracle-mirrorable (`quantile_cont`).
    * `accuracy > 0` = `approx_percentile`: O(accuracy · log n) sketch
    * state merged map-side, rank error ≤ n/accuracy (spec-bounded) —
    * the 100 TB form, where an exact global percentile would buffer the
    * corpus in one aggregate.
    */
  def distributionProfile(df: DataFrame, valueCol: String,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.95),
      accuracy: Int = 0): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
      s"quantiles out of [0,1]: $quantiles")
    require(quantiles.distinct == quantiles, s"duplicate quantiles: $quantiles")
    require(accuracy >= 0, s"accuracy must be >= 0 (0 = exact): $accuracy")
    def pName(q: Double): String = {
      // decimal, not double, arithmetic: 0.07 * 100 in floating point is
      // 7.000000000000001 and would name the column p7_000000000000001
      val centi = (BigDecimal(q) * 100).underlying.stripTrailingZeros
      if (centi.scale <= 0) s"p${centi.toBigInteger}"
      else s"p${centi.toPlainString.replace('.', '_')}"
    }
    df.agg(
      count(lit(1)).as("n"),
      min(col(s"`$valueCol`")).as("min_val") +:
        max(col(s"`$valueCol`")).as("max_val") +:
        quantiles.map(q => percentileExpr(valueCol, q, accuracy).as(pName(q))): _*)
  }

  /** [[psi]] replayed over PRE-AGGREGATED bin counts, one score set per
    * group (e.g. per stream window): `cur` carries (groupCols..., bin, n)
    * — the shape a Complete-mode windowed histogram sink emits — and
    * `ref` carries the reference (bin, n). Every group × bin cell of the
    * dense grid appears in the output with the same Laplace smoothing as
    * [[psi]], so a bin that never arrived in a window still contributes
    * its floor share. This is the batch half of the streaming drift
    * monitor: the stateful windowed COUNTING runs in the stream (state =
    * windows × bins+2 rows, data-independent), the groups×bins-sized
    * score arithmetic runs on the sink table.
    */
  def psiFromCounts(cur: DataFrame, ref: DataFrame,
      groupCols: Seq[String], bins: Int): DataFrame = {
    require(groupCols.nonEmpty, "psiFromCounts needs at least one group column")
    val gcols = groupCols.map(c => col(s"`$c`"))
    // every frame here descends from the same `cur` plan, so joining
    // them by the ORIGINAL attributes is a self-join Catalyst rejects as
    // ambiguous — each derived frame re-aliases its columns to fresh
    // attributes (the categoricalPsi fresh-attribute contract)
    val grid = cur.select(groupCols.map(c => col(s"`$c`").as(s"__g_$c")): _*)
      .distinct()
      .crossJoin(broadcast(
        cur.sparkSession.range(-1, bins + 1).select(col("id").as("__gbin"))))
    val counts = cur.select(
      groupCols.map(c => col(s"`$c`").as(s"__c_$c")) ++
        Seq(col("bin").as("__cbin"), col("n").as("__wn")): _*)
    val wtot = cur.groupBy(gcols: _*).agg(sum(col("n")).as("__wt"))
      .select(groupCols.map(c => col(s"`$c`").as(s"__t_$c")) :+ col("__wt"): _*)
    val rtot = ref.agg(sum(col("n")).as("__rt"))
    val onCounts = groupCols.map(c => col(s"`__g_$c`") <=> col(s"`__c_$c`"))
      .reduce(_ && _) && col("__gbin") === col("__cbin")
    val onTot = groupCols.map(c => col(s"`__g_$c`") <=> col(s"`__t_$c`"))
      .reduce(_ && _)
    grid
      .join(counts, onCounts, "left")
      .join(ref.select(col("bin").as("__rbin"), col("n").as("__rn")),
        col("__gbin") === col("__rbin"), "left")
      .join(wtot, onTot)
      .crossJoin(broadcast(rtot))
      .select(groupCols.map(c => col(s"`__g_$c`").as(c)) ++ Seq(
        col("__gbin").as("bin"),
        ((coalesce(col("__rn"), lit(0L)) + 1).cast("double") /
          (col("__rt").cast("double") + (bins + 2))).as("__p"),
        ((coalesce(col("__wn"), lit(0L)) + 1).cast("double") /
          (col("__wt").cast("double") + (bins + 2))).as("__q")): _*)
      .select(gcols ++ Seq(col("bin"),
        round(col("__p"), 6).as("base_share"),
        round(col("__q"), 6).as("cur_share"),
        round((col("__q") - col("__p")) * log(col("__q") / col("__p")), 6)
          .as("psi_term")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov drift between a BASE and a CURRENT
    * snapshot of `valueCol`: the largest vertical gap between the two
    * empirical CDFs — the nonparametric complement to [[psi]] (PSI needs
    * a binning choice and saturates on shape-preserving shifts; KS is
    * binning-free and maximal exactly at the crossing point). Emits the
    * `topGaps` evaluation points with the LARGEST gap (gap desc, value
    * asc — row 1's `ks_gap` IS the KS statistic) with both CDF values,
    * so the output localizes WHERE the distributions diverge, not just
    * how much. Null values are excluded (missingness is a different
    * stat); either side empty → empty output (no CDF to compare).
    *
    * Scale shape: the ECDFs need a global cumulative count in value
    * order — the naive window is one task holding the whole corpus.
    * Per-value counts come first (groupBy — map-side combined, so the
    * shuffle carries distinct values, not rows); both cumulative counts
    * and their totals then come from one [[Prefix.exclusiveSums]] pass
    * over that relation. The final top-k is TakeOrderedAndProject
    * (per-partition heads, never a global sort materialization). Output
    * depends only on the data's total order by value, not the
    * partitioning.
    */
  def ksDrift(base: DataFrame, current: DataFrame, valueCol: String,
      topGaps: Int = 10): DataFrame = {
    require(topGaps >= 1, s"topGaps must be positive: $topGaps")
    val v = col(s"`$valueCol`")
    def side(df: DataFrame, nb: Int, nc: Int) =
      df.filter(v.isNotNull).select(v.cast("double").as("__v"),
        lit(nb.toLong).as("__nb"), lit(nc.toLong).as("__nc"))
    val grp = side(base, 1, 0).unionByName(side(current, 0, 1))
      .groupBy("__v")
      .agg(sum(col("__nb")).as("__nb"), sum(col("__nc")).as("__nc"))
    // ECDF numerators are INCLUSIVE: the exclusive prefix plus the row's
    // own count; the denominators are the prefix pass's grand totals
    val (ranked, Seq(totb, totc)) = Prefix.exclusiveSumsAndTotals(grp,
      Seq(col("__v")), Seq("__cb" -> col("__nb"), "__cc" -> col("__nc")))
    val baseCdf = (col("__cb") + col("__nb")).cast("double") / lit(totb)
    val curCdf = (col("__cc") + col("__nc")).cast("double") / lit(totc)
    ranked
      .filter(lit(totb > 0 && totc > 0))
      .select(col("__v").as("value"),
        round(baseCdf, 6).as("base_cdf"),
        round(curCdf, 6).as("cur_cdf"),
        round(abs(baseCdf - curCdf), 6).as("ks_gap"))
      .orderBy(desc("ks_gap"), asc("value"))
      .limit(topGaps)
  }

  /** [[psi]] for a CATEGORICAL column (source, language, domain): drift
    * of the category MIX between two snapshots. Categories are the union
    * observed across both snapshots (a category that appears or vanishes
    * is precisely the drift signal — it gets the smoothed floor share on
    * the side that lacks it); a null category is a real category.
    * Smoothing denominator is N + D + 1 with D = the union's category
    * count (computed in-plan — the categorical analog of bins + 2).
    * Output: one row per category with smoothed shares and the PSI term;
    * total = downstream SUM. All frames after the two scans are
    * categories-sized.
    */
  def categoricalPsi(base: DataFrame, current: DataFrame,
      catCol: String): DataFrame = {
    def counts(df: DataFrame, nOut: String, tOut: String): (DataFrame, DataFrame) = {
      val h = df.groupBy(col(s"`$catCol`").as("category"))
        .agg(count(lit(1)).as(nOut))
      (h, h.agg(sum(col(nOut)).as(tOut)))
    }
    val (p, pt) = counts(base, "__pn", "__pt")
    val (q, qt) = counts(current, "__qn", "__qt")
    // fresh attribute for the union's category column — joining cats
    // back against the frames it was derived from would otherwise be
    // ambiguous (both sides carry the same resolved attribute)
    val cats = p.select(col("category").as("__cat"))
      .unionByName(q.select(col("category").as("__cat")))
      .distinct()
    val d = cats.agg(count(lit(1)).as("__d"))
    cats
      .join(p, col("__cat") <=> p("category"), "left").drop("category")
      .join(q, col("__cat") <=> q("category"), "left").drop("category")
      .withColumnRenamed("__cat", "category")
      .crossJoin(broadcast(pt))
      .crossJoin(broadcast(qt))
      .crossJoin(broadcast(d))
      .select(col("category"),
        ((coalesce(col("__pn"), lit(0L)) + 1).cast("double") /
          (col("__pt").cast("double") + col("__d") + 1)).as("__p"),
        ((coalesce(col("__qn"), lit(0L)) + 1).cast("double") /
          (col("__qt").cast("double") + col("__d") + 1)).as("__q"))
      .select(col("category"),
        round(col("__p"), 6).as("base_share"),
        round(col("__q"), 6).as("cur_share"),
        round((col("__q") - col("__p")) * log(col("__q") / col("__p")), 6)
          .as("psi_term"))
  }

  /** Per-group z-score profiling: every row scored against ITS group's
    * mean/stddev — the per-entity outlier primitive (a $400 event is an
    * anomaly for a user whose events average $4, and unremarkable for a
    * whale), complementing the corpus-global [[winsorize]] clamp. Rows
    * whose group has fewer than two non-null values (or zero variance)
    * get a null `zscore` — no evidence, no verdict — rather than being
    * dropped, so the output stays row-aligned with the input for
    * downstream joins.
    *
    * Exactness contract (the [[Dedup]]-family rule, upgraded here from
    * the earlier avg/stddev formulation whose float folds were only
    * probabilistically engine-portable): values are snapped to the
    * fixed-point grid `x = round(v·scale)` and the group moments are
    * EXACT integer sums — S = Σx and Q = Σx², folded in decimal(38,0)
    * so no aggregation order and no engine can perturb them (the
    * DuckDB twin folds in HUGEINT). The score is then the
    * algebraically identical
    * {{{ z = (x·n − S) / sqrt( ((n·Q − S²)·n) / (n−1) ) }}}
    * — exact integers up to ONE double division, one sqrt, one final
    * division (all IEEE-correctly-rounded, hence bit-identical across
    * engines), then round(6). `scale` must cover the column's real
    * precision (default 100 = currency cents; sub-grid precision is
    * deliberately snapped away — that is what makes the score exact).
    * Headroom: the decimal(38,0) products need `n·max|x| < ~1e19`
    * per group; beyond that Spark's decimal math nulls the score
    * rather than silently wrapping. Callers filter `abs(zscore) > k`
    * for flagging; the threshold deliberately stays OUT of this
    * operator so the comparison is a caller policy, not a baked-in
    * boundary.
    *
    * Scale shape: one map-side-combined groupBy(key) for the moment
    * stats, one equi-join back on the key (the stats side is one row
    * per key — AQE broadcasts it when small, sort-merge otherwise; no
    * window sort over the raw rows). Null keys are excluded — they have
    * no group to be scored against.
    */
  def groupZscores(
      df: DataFrame, keyCol: String, valueCol: String,
      scale: Long = 100L): DataFrame =
    scoreAgainstStats(df, keyCol, valueCol,
      groupStats(df, keyCol, valueCol, scale), scale)

  /** The per-group moment profile [[groupZscores]] scores against —
    * public so the SAME profile can be trained batch-side and applied
    * to a STREAM ([[graft.streaming.Streams.zscoreEnrichStatic]]): the
    * train-once/score-forever split every production anomaly monitor
    * uses (a profile recomputed inside the stream would score each
    * event against a moving target and make results ingestion-order-
    * dependent).
    */
  def groupStats(
      df: DataFrame, keyCol: String, valueCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val v = col(s"`$valueCol`")
    val xd = round(v * lit(scale.toDouble), 0).cast("long")
      .cast("decimal(38,0)")
    df.filter(col(s"`$keyCol`").isNotNull)
      .groupBy(col(s"`$keyCol`").as("__k"))
      .agg(count(v).as("group_n"),
        sum(xd).as("__s"), sum(xd * xd).as("__q"))
  }

  /** Shared scoring join — the single definition both the batch and
    * streaming z-score paths go through, so their score arithmetic
    * cannot fork. `stats` must be a [[groupStats]]-shaped frame
    * trained at the SAME `scale`.
    */
  private[graft] def scoreAgainstStats(
      df: DataFrame, keyCol: String, valueCol: String,
      stats: DataFrame, scale: Long = 100L): DataFrame = {
    val k = col(s"`$keyCol`")
    val v = col(s"`$valueCol`")
    val xd = round(v * lit(scale.toDouble), 0).cast("long")
      .cast("decimal(38,0)")
    val nd = col("group_n").cast("decimal(38,0)")
    val varNum = (nd * col("__q") - col("__s") * col("__s")) * nd
    df.filter(k.isNotNull)
      .join(stats, k === col("__k"))
      .drop("__k")
      .withColumn("zscore",
        when(col("group_n") >= 2L && v.isNotNull && varNum > 0,
          round((xd * nd - col("__s")).cast("double") /
            sqrt(varNum.cast("double") /
              (col("group_n") - 1L).cast("double")), 6)))
      .drop("__s", "__q")
  }

  /** Exact equi-depth (quantile) binning: every non-null value ranked
    * under the TOTAL order (value, tiebreak) by the distributed
    * prefix sum ([[Curation.rankByOrder]] — no single-task
    * global window), then assigned `bin = rank·k DIV n` — k near-equal
    * buckets whose sizes differ by at most one, the feature-engineering
    * binning that a fixed-width [[histogram]] can't give on skewed
    * columns. All integer arithmetic to the bin id, so two engines
    * agree bit-exactly even where a quantile-sketch approach would
    * waver at bucket boundaries. Output is the bin summary — count and
    * [min, max] value span per bin (the bin "edges" downstream feature
    * transforms need); join the ranked frame yourself when per-row bin
    * labels are wanted.
    *
    * Scale shape: one range exchange read by the two passes of
    * [[Prefix.exclusiveSums]], then a k-row map-side-combined
    * aggregation. The 1-row total frame rides the same broadcast
    * pattern as the other profile ops.
    */
  def equidepthBins(
      df: DataFrame, valueCol: String, tiebreakCol: String,
      bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be positive: $bins")
    val v = col(s"`$valueCol`")
    val ranked = Curation.rankByOrder(
      df.filter(v.isNotNull).select(v.as("__v"), col(s"`$tiebreakCol`").as("__t")),
      Seq(col("__v"), col("__t")), outCol = "__rank")
    val total = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .select(expr(s"(__rank * ${bins}L) DIV __n").as("bin"), col("__v"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("__v")), 6).as("min_v"),
        round(max(col("__v")), 6).as("max_v"))
  }

  /** Per-group min-max feature scaling: each value mapped to
    * `(v − min) / (max − min)` within ITS group — the [0, 1]
    * normalization step feature pipelines run per entity type or per
    * source, complementing [[groupZscores]] (standardization) and
    * [[winsorize]] (clamping). Zero-span groups (max = min) and null
    * values scale to null — no evidence of spread, no position in it;
    * rows keep their place either way. `scaled` is rounded 6 dp under
    * the same engine-portability contract as the rest of the family.
    *
    * Scale shape: one map-side-combined groupBy(group) for the span +
    * one equi-join back (AQE broadcasts the group-count-sized stats
    * side when small).
    */
  def minmaxScale(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val stats = df.filter(g.isNotNull)
      .groupBy(g.as("__g"))
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    df.filter(g.isNotNull)
      .join(stats, g === col("__g"))
      .drop("__g")
      .withColumn("scaled",
        when(col("__hi") > col("__lo") && v.isNotNull,
          round((v - col("__lo")) / (col("__hi") - col("__lo")), 6)))
      .drop("__lo", "__hi")
  }

  /** RFM segmentation: every entity scored 1–3 on Recency (latest
    * event time), Frequency (event count), and Monetary (exact value
    * cents), each score an equi-depth TERCILE of the entity population
    * — the classic behavioral-segmentation composite (and, clinically,
    * an engagement stratification: last-seen / visit-count / total
    * utilization). Score 3 = top tercile on every axis; `segment`
    * concatenates the three digits ("333" = best customers).
    *
    * Exactness: recency and frequency are int64; monetary sums
    * integer cents (`round(v·100)` — the [[benfordProfile]] cents
    * convention) so no float fold exists anywhere; null-value-only
    * entities get monetary 0, not null (a null would sort
    * engine-differently). Terciles come from the same
    * `rank·k DIV n` arithmetic as [[equidepthBins]], ranked by the
    * TOTAL order (value, key) through [[Curation.rankByOrder]]'s
    * distributed prefix sum — three range exchanges over the
    * ENTITY-sized frame (not the event stream), no single-task window,
    * no quantile sketch.
    */
  def rfmSegments(
      df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val k = col(s"`$keyCol`")
    val users = df.filter(k.isNotNull && col(s"`$tsCol`").isNotNull)
      .groupBy(k.as(keyCol))
      .agg(
        max(col(s"`$tsCol`")).as("recency_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(round(col(s"`$valueCol`") * 100d, 0).cast("long")), lit(0L))
          .as("monetary_cents"))
    val kk = col(s"`$keyCol`")
    val ranked = Curation.rankByOrder(
      Curation.rankByOrder(
        Curation.rankByOrder(users,
          Seq(col("recency_us"), kk), "__rr"),
        Seq(col("frequency"), kk), "__rf"),
      Seq(col("monetary_cents"), kk), "__rm")
    val total = ranked.agg(count(lit(1)).as("__n"))
    def score(rank: String): Column =
      (expr(s"($rank * 3) DIV __n") + 1L).cast("int")
    ranked.crossJoin(broadcast(total))
      .select(kk, col("recency_us"), col("frequency"), col("monetary_cents"),
        score("__rr").as("r_score"),
        score("__rf").as("f_score"),
        score("__rm").as("m_score"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** Robust (median/MAD) per-group outlier scores — the
    * heavy-tail-safe twin of [[groupZscores]]: one fat outlier inflates
    * a mean/stddev profile enough to mask every other anomaly in its
    * group, while the median and the median-absolute-deviation ignore
    * it. `robust_z = (v − med) / (MAD · 1.4826)` (the Gaussian
    * consistency constant, so thresholds transfer from the classical
    * score). Both centers are DISCRETE order statistics (rank
    * `(n+1) DIV 2` among the group's non-null values, nulls ordered
    * last) — value SELECTION, not arithmetic folding, so the doubles
    * are engine-exact before the single rounded division. Groups with
    * zero MAD (≥ half the group at one value) and null values get a
    * null verdict; rows stay aligned.
    *
    * Scale shape: ONE hash exchange by key feeding two in-partition
    * sorts (by value, then by |v − med|) and their full-partition
    * window aggregates — no joins, no global sort.
    */
  def robustZscores(
      df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val k = col(s"`$keyCol`")
    val v = col(s"`$valueCol`")
    val wk = Window.partitionBy(k)
    val wRank = wk.orderBy(v.asc_nulls_last)
    val withMed = df.filter(k.isNotNull)
      .withColumn("__rn", row_number().over(wRank).cast("long"))
      .withColumn("__nn", count(v).over(wk))
      .withColumn("__med",
        max(when(col("__rn") === expr("(__nn + 1) DIV 2") && v.isNotNull, v))
          .over(wk))
      .withColumn("__dv", abs(v - col("__med")))
    val wDev = wk.orderBy(col("__dv").asc_nulls_last)
    withMed
      .withColumn("__rd", row_number().over(wDev).cast("long"))
      .withColumn("__mad",
        max(when(col("__rd") === expr("(__nn + 1) DIV 2"), col("__dv")))
          .over(wk))
      .withColumn("robust_z",
        when(col("__mad") > 0d && v.isNotNull,
          round((v - col("__med")) / (col("__mad") * lit(1.4826)), 6)))
      .drop("__rn", "__nn", "__med", "__dv", "__rd", "__mad")
  }

  /** Two-proportion A/B summary: one row comparing conversion between
    * variant 0 (control) and variant 1 (treatment) of a USER-level
    * frame — the experimentation readout (and, read clinically, a
    * treated-vs-control outcome comparison). Input rows are one per
    * unit with `variantCol` ∈ {0, 1} and `convertedCol` ∈ {0, 1};
    * aggregation is exact int64, and the derived statistics (rates,
    * absolute/relative lift, pooled two-proportion z) are computed from
    * those exact counts with only correctly-rounded IEEE ops
    * (divide/multiply/sqrt) before ONE final 6 dp rounding each — no
    * engine-ordered float fold anywhere, so two engines agree despite
    * the statistics being "real" floats. The z is the classic pooled
    * test: `(p1 − p0) / sqrt(p̂(1−p̂)(1/n0 + 1/n1))`, null when either
    * arm is empty or the pooled rate is degenerate (0 or 1 — no
    * variance, no test).
    *
    * Scale shape: one map-side-combined aggregation to FOUR counters;
    * everything after is scalar arithmetic on one row.
    */
  def abTest(
      df: DataFrame, variantCol: String, convertedCol: String): DataFrame = {
    val vr = col(s"`$variantCol`")
    val cv = col(s"`$convertedCol`")
    val counts = df.filter(vr.isin(0, 1) && cv.isNotNull)
      .agg(
        sum(when(vr === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(vr === 0 && cv === 1, 1L).otherwise(0L)).as("c0"),
        sum(when(vr === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(vr === 1 && cv === 1, 1L).otherwise(0L)).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val pp = (col("c0") + col("c1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    val se = sqrt(pp * (lit(1d) - pp) *
      (lit(1d) / col("n0").cast("double") + lit(1d) / col("n1").cast("double")))
    counts.select(
      col("n0"), col("c0"), col("n1"), col("c1"),
      when(col("n0") > 0, round(p0, 6)).as("rate0"),
      when(col("n1") > 0, round(p1, 6)).as("rate1"),
      when(col("n0") > 0 && col("n1") > 0, round(p1 - p0, 6)).as("abs_lift"),
      when(col("n0") > 0 && col("n1") > 0 && col("c0") > 0,
        round((p1 - p0) / p0, 6)).as("rel_lift"),
      when(col("n0") > 0 && col("n1") > 0 &&
        col("c0") + col("c1") > 0 &&
        col("c0") + col("c1") < col("n0") + col("n1"),
        round((p1 - p0) / se, 6)).as("z_pooled"))
  }

  /** Two-group Mann–Whitney U rank-sum test — the nonparametric
    * companion to [[abTest]] for CONTINUOUS outcomes (lab values,
    * lengths of stay) whose distributions are skewed enough that a
    * t-style mean comparison misleads. Values are snapped to the
    * fixed-point grid first (`round(v·scale)` — ties must be a
    * property of the DATA, not of float representation), then ranked
    * with midrank tie handling in DOUBLED units so every rank is
    * int64: a run of `t` equal values occupying ranks
    * `c+1 … c+t` has midrank `c + (t+1)/2`, i.e. doubled midrank
    * `2c + t + 1` — exact for any tie width. From the doubled
    * group-one rank sum `r1_x2`:
    * {{{ 2·U1 = r1_x2 − n1·(n1+1),   2·E[U1] = n1·n2 }}}
    * and the tie-corrected null variance (doubled statistic, hence 4×)
    * {{{ 4·Var = n1·n2·( n·(n+1)·(n−1) − Σ(t³−t) ) / (3·n·(n−1)) }}}
    * whose numerator runs exact in decimal(38,0) (the [[logRank]] /
    * pageRank precedent — n³·n1·n2 overflows int64 past tiny cohorts).
    * `tie_sum` itself stays int64: exact while Σ(t³−t) < 9.2e18, i.e.
    * until a single grid value collects ~2.1e6 rows — pick `scale` so
    * the grid actually separates values long before that.
    * Everything through the variance NUMERATOR and `tie_sum` is exact
    * integer; z spends ONE double division + sqrt (correctly-rounded
    * IEEE on both engines) before a final round(6) — the same
    * exactness budget as [[graft.ops.TimeSeries.logRank]]'s χ².
    *
    * Output: ONE row — (n1, n2, u1_x2, mu_x2, tie_sum, z). z is null
    * when either arm is empty or every value is tied (zero variance).
    *
    * Scale shape: rows collapse map-side to one row per DISTINCT grid
    * value (count + group-one count); the rank prefix runs over the
    * distinct-value relation via [[Prefix.exclusiveSums]] (r20 — the
    * former unpartitioned window was a single-task sort, range-sized
    * for open-ended value domains); the result is a 1-row aggregate.
    */
  def rankSumTest(
      df: DataFrame, groupCol: String, valueCol: String,
      groupOne: String, scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val v = col(s"`$valueCol`")
    val xd = round(v * lit(scale.toDouble), 0).cast("long")
    val perV = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), xd.as("__x"))
      .groupBy(col("__x"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__g") === groupOne, 1L).otherwise(0L)).as("__t1"))
    // r20: rank prefix via Prefix.exclusiveSums (was a single-partition
    // Window.orderBy over the distinct grid — range-sized for open-ended
    // value domains); same exact int64 prefix, no window
    Prefix.exclusiveSums(perV, Seq(col("__x")), Seq("__c" -> col("__t")))
      // doubled midrank of this tie run, times its group-one members
      .withColumn("__r1x2",
        col("__t1") * (lit(2L) * col("__c") + col("__t") + lit(1L)))
      .agg(
        sum(col("__t1")).as("n1"),
        (sum(col("__t")) - sum(col("__t1"))).as("n2"),
        sum(col("__r1x2")).as("__r1x2s"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("tie_sum"))
      .withColumn("u1_x2", col("__r1x2s") - col("n1") * (col("n1") + 1L))
      .withColumn("mu_x2", col("n1") * col("n2"))
      .withColumn("z", {
        val n = col("n1") + col("n2")
        // 4·Var numerator, exact in decimal(38,0) on both engines
        val varNum = expr(
          "CAST(n1 AS DECIMAL(38,0)) * n2 * " +
            "(CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2 + 1) * " +
            "(n1 + n2 - 1) - tie_sum)")
        val var4 = varNum.cast("double") /
          (lit(3d) * n.cast("double") * (n.cast("double") - 1d))
        when(col("n1") > 0L && col("n2") > 0L && n > 1L && var4 > 0d,
          round((col("u1_x2") - col("mu_x2")).cast("double") / sqrt(var4), 6))
      })
      .select("n1", "n2", "u1_x2", "mu_x2", "tie_sum", "z")
  }

  /** Exposure-outcome 2×2 contingency measures — the epidemiological
    * readout (cohort-study flavor) next to [[abTest]]'s experimentation
    * one: exact cell counts a/b/c/d (exposed×outcome) plus relative
    * risk `RR = (a/(a+b)) / (c/(c+d))`, odds ratio `OR = a·d / (b·c)`
    * and risk difference — each a single correctly-rounded IEEE
    * division chain over exact int64 counts, round(6), null where the
    * classical measure is undefined (empty margin, zero unexposed
    * risk, zero b·c denominator). No log-scale confidence intervals BY
    * DESIGN: ln() is a libm call whose last ulp differs across
    * engines; callers who need Woolf CIs take the exact counts.
    *
    * Scale shape: one map-side-combined aggregation to four counters.
    */
  def epi2x2(
      df: DataFrame, exposedCol: String, outcomeCol: String): DataFrame = {
    val e = col(s"`$exposedCol`").cast("long")
    val o = col(s"`$outcomeCol`").cast("long")
    val counts = df
      .filter(e.isin(0L, 1L) && o.isin(0L, 1L))
      .agg(
        sum(when(e === 1L && o === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(e === 1L && o === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(e === 0L && o === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(e === 0L && o === 0L, 1L).otherwise(0L)).as("d"))
    val riskE = col("a").cast("double") / (col("a") + col("b")).cast("double")
    val riskU = col("c").cast("double") / (col("c") + col("d")).cast("double")
    counts.select(
      col("a"), col("b"), col("c"), col("d"),
      when(col("a") + col("b") > 0L, round(riskE, 6)).as("risk_exposed"),
      when(col("c") + col("d") > 0L, round(riskU, 6)).as("risk_unexposed"),
      when(col("a") + col("b") > 0L && col("c") > 0L,
        round(riskE / riskU, 6)).as("rr"),
      when(col("b") * col("c") > 0L,
        round((col("a") * col("d")).cast("double") /
          (col("b") * col("c")).cast("double"), 6)).as("or"),
      when(col("a") + col("b") > 0L && col("c") + col("d") > 0L,
        round(riskE - riskU, 6)).as("risk_diff"))
  }

  /** Kruskal–Wallis H — the k-group generalization of [[rankSumTest]]
    * (one-way ANOVA on ranks): "do these k cohorts draw the value from
    * the same distribution?". Same grid-snap + doubled-midrank
    * machinery; with `R2_g` the doubled rank sum and `n_g` the size of
    * group g,
    * {{{ hsum = Σ_g (R2_g² DIV n_g)                  // exact int64
    *     H    = 3·hsum/(n(n+1)) − 3(n+1)             // one division
    *     H'   = H / (1 − tie_sum/(n³−n))             // tie-corrected }}}
    * — `R2_g²` runs in decimal(38,0), each group's floor costs ≤1 on a
    * ~n³-sized term (1e-15 relative) and is replayed identically per
    * engine; the float tail (one division for H, one more for the tie
    * correction) is the same correctly-rounded-IEEE budget as
    * [[rankSumTest]]'s z. Output: ONE row — (k_groups, n, tie_sum,
    * hsum, dof, h, h_tied); h null for degenerate inputs (k < 2 or
    * n < 2), h_tied null additionally when everything is one tie run
    * (the correction divides by zero — no ranking information exists).
    * Exactness bound: `hsum ≤ 4n³` must stay inside int64 → n < 1.3e6
    * rows (snap `scale` coarser or shard past that).
    *
    * Scale shape: rows collapse map-side to per-(value, group) cells;
    * the rank prefix is a window over the DISTINCT-value relation
    * (bounded by the value domain — the [[rankSumTest]] argument);
    * cells join back to the distinct-value frame on the value (both
    * domain-sized); the result is a 1-row aggregate over the k-sized
    * group relation.
    */
  def kruskalWallis(
      df: DataFrame, groupCol: String, valueCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val v = col(s"`$valueCol`")
    val xd = round(v * lit(scale.toDouble), 0).cast("long")
    val perVG = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), xd.as("__x"))
      .groupBy(col("__x"), col("__g"))
      .agg(count(lit(1)).as("__tg"))
    val perV = perVG.groupBy(col("__x")).agg(sum(col("__tg")).as("__t"))
    // r20: same distributed-prefix move as [[rankSumTest]]
    val ranked =
      Prefix.exclusiveSums(perV, Seq(col("__x")), Seq("__c" -> col("__t")))
    val perG = perVG.join(ranked, Seq("__x"))
      .withColumn("__r2",
        col("__tg") * (lit(2L) * col("__c") + col("__t") + lit(1L)))
      .groupBy(col("__g"))
      .agg(sum(col("__tg")).as("__ng"), sum(col("__r2")).as("__r2g"))
      .withColumn("__hg",
        expr("CAST(__r2g AS DECIMAL(38,0)) * __r2g DIV __ng"))
    val ties = perV.agg(
      sum(col("__t")).as("__n"),
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("tie_sum"))
    perG
      .agg(count(lit(1)).as("k_groups"), sum(col("__hg")).as("hsum"))
      .crossJoin(broadcast(ties))
      .select(
        col("k_groups"), col("__n").as("n"), col("tie_sum"), col("hsum"),
        (col("k_groups") - lit(1L)).as("dof"),
        when(col("k_groups") >= 2L && col("__n") >= 2L, {
          val nd = col("__n").cast("double")
          // hsum squares DOUBLED rank sums: Σ R_g²/n_g = hsum/4, and
          // 12/(n(n+1)) · hsum/4 = 3·hsum/(n(n+1))
          round(lit(3.0) * col("hsum").cast("double") /
            (nd * (nd + 1d)) - lit(3.0) * (nd + 1d), 6)
        }).as("h"))
      .withColumn("h_tied", {
        val nd = col("n").cast("double")
        val corr = lit(1.0) -
          col("tie_sum").cast("double") / (nd * nd * nd - nd)
        when(col("h").isNotNull && corr > 0d, round(col("h") / corr, 6))
      })
  }

  /** Two-group incidence rate ratio over person-time — the comparative
    * readout on top of [[graft.ops.Intervals.incidenceRate]]'s per-key
    * rows (or any frame with an event count and an exposure-time
    * column per entity): exposed-vs-reference events per unit of
    * covered time. Totals are exact int64 sums; the per-group rates
    * are exact floor divisions at `scale`; the ratio spends ONE
    * correctly-rounded IEEE division over the exact cross products
    * {{{ RR = (e1 · t0) / (e0 · t1) }}}
    * (null when either group has zero person-time or the reference
    * has zero events — no rate to compare against). The difference
    * `rate1 − rate0` is exact int64 at `scale`. Exactness bound:
    * `events · personTime < 9.2e18` across groups — far beyond any
    * real cohort at the default per-1000 scale.
    *
    * Scale shape: one map-side-combined aggregation to six counters;
    * scalar arithmetic on one row after.
    */
  def rateRatio(
      df: DataFrame, groupCol: String, eventsCol: String,
      timeCol: String, groupOne: String,
      scale: Long = 1000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val e = col(s"`$eventsCol`").cast("long")
    val t = col(s"`$timeCol`").cast("long")
    df.filter(g.isNotNull && e.isNotNull && t.isNotNull && t >= 0L && e >= 0L)
      .agg(
        sum(when(g === groupOne, e).otherwise(0L)).as("e1"),
        sum(when(g === groupOne, t).otherwise(0L)).as("t1"),
        sum(when(g =!= groupOne, e).otherwise(0L)).as("e0"),
        sum(when(g =!= groupOne, t).otherwise(0L)).as("t0"))
      .select(
        col("e1"), col("t1"), col("e0"), col("t0"),
        when(col("t1") > 0L, expr(s"e1 * ${scale}L DIV t1")).as("rate1_scaled"),
        when(col("t0") > 0L, expr(s"e0 * ${scale}L DIV t0")).as("rate0_scaled"),
        when(col("t1") > 0L && col("t0") > 0L,
          expr(s"e1 * ${scale}L DIV t1") - expr(s"e0 * ${scale}L DIV t0"))
          .as("rate_diff_scaled"),
        when(col("t1") > 0L && col("t0") > 0L && col("e0") > 0L,
          round((col("e1") * col("t0")).cast("double") /
            (col("e0") * col("t1")).cast("double"), 6)).as("rate_ratio"))
  }

  /** Weighted distinct-item index per key — the Charlson-comorbidity
    * shape (score = Σ weights of the patient's DISTINCT condition
    * categories; public 1987 weights), and equally a risk/tag score
    * over any (entity, category) relation. Items are deduplicated per
    * key FIRST (a condition recorded twice is one comorbidity), items
    * absent from the weight map score zero but still count in
    * `n_items`, and everything is exact int64 — no float anywhere.
    *
    * Scale shape: one distinct on (key, item), a BROADCAST join
    * against the weight table (weights are dozens of rows — never a
    * shuffle side), one map-side-combined groupBy(key). The weight map
    * rides the plan as a broadcast relation, not a giant CASE literal,
    * so 10k-entry code maps don't bloat the plan (the
    * [[graft.ops.FuzzyJoin]] blockterm precedent).
    */
  def weightedIndex(
      df: DataFrame, keyCol: String, itemCol: String,
      weights: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val w = broadcast(weights.toSeq.toDF("__item", "__w"))
    df.filter(col(s"`$keyCol`").isNotNull && col(s"`$itemCol`").isNotNull)
      .select(col(s"`$keyCol`").as("__k"),
        col(s"`$itemCol`").cast("string").as("__item"))
      .distinct()
      .join(w, Seq("__item"), "left")
      .groupBy(col("__k").as(keyCol))
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(coalesce(col("__w"), lit(0L)) > 0L, 1L).otherwise(0L))
          .as("n_weighted"),
        sum(coalesce(col("__w"), lit(0L))).as("score"))
  }

  /** Cochran–Mantel–Haenszel pooled odds ratio — the stratified
    * companion to [[epi2x2]]: "is exposure associated with outcome
    * AFTER holding the confounder constant?" (the Simpson's-paradox
    * guard every observational readout needs). Per stratum i with
    * cells aᵢ/bᵢ/cᵢ/dᵢ and nᵢ rows, the MH estimator
    * {{{ OR_MH = Σᵢ (aᵢ·dᵢ/nᵢ) / Σᵢ (bᵢ·cᵢ/nᵢ) }}}
    * runs in exact fixed point: `r_fp = (a·d·S) DIV n` and
    * `s_fp = (b·c·S) DIV n` are exact int64 per stratum, their sums
    * are order-independent folds, and OR_MH spends ONE correctly-
    * rounded IEEE division, round(6) — null when the denominator sum
    * is zero (no discordant mass to estimate from). Also emitted:
    * the crude (collapsed) OR from the pooled cells, so the
    * confounding READ — crude vs adjusted — is one row. Exactness
    * bound: `a·d·S < 9.2e18` per stratum — the default S=1e6 covers
    * strata up to ~3e6 rows; rescale down past that.
    *
    * Scale shape: one (stratum, exposed, outcome) groupBy collapses
    * rows map-side; everything after is arithmetic over the
    * strata-sized cell relation into a 1-row aggregate.
    */
  def cmhOddsRatio(
      df: DataFrame, stratumCol: String, exposedCol: String,
      outcomeCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val st = col(s"`$stratumCol`").cast("string")
    val e = col(s"`$exposedCol`").cast("long")
    val o = col(s"`$outcomeCol`").cast("long")
    val cells = df
      .filter(st.isNotNull && e.isin(0L, 1L) && o.isin(0L, 1L))
      .groupBy(st.as("__s"))
      .agg(
        sum(when(e === 1L && o === 1L, 1L).otherwise(0L)).as("__a"),
        sum(when(e === 1L && o === 0L, 1L).otherwise(0L)).as("__b"),
        sum(when(e === 0L && o === 1L, 1L).otherwise(0L)).as("__c"),
        sum(when(e === 0L && o === 0L, 1L).otherwise(0L)).as("__d"))
      .withColumn("__n", col("__a") + col("__b") + col("__c") + col("__d"))
    cells
      .agg(
        count(lit(1)).as("k_strata"),
        sum(expr(s"__a * __d * ${scale}L DIV __n")).as("num_fp"),
        sum(expr(s"__b * __c * ${scale}L DIV __n")).as("den_fp"),
        sum(col("__a")).as("a"), sum(col("__b")).as("b"),
        sum(col("__c")).as("c"), sum(col("__d")).as("d"))
      .select(
        col("k_strata"), col("num_fp"), col("den_fp"),
        col("a"), col("b"), col("c"), col("d"),
        when(col("den_fp") > 0L,
          round(col("num_fp").cast("double") / col("den_fp").cast("double"), 6))
          .as("or_mh"),
        when(col("b") * col("c") > 0L,
          round((col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double"), 6)).as("or_crude"))
  }

  /** Fixed-point scale for [[chiSquareTest]]'s expected counts and
    * per-cell terms: 1e12 (the [[graft.ops.TimeSeries.SurvivalScale]]
    * convention). Exactness bounds: `n < 9.2e6` keeps `o·S` inside
    * int64, and the per-cell term needs `n·(min(r,c)−1)·S < 9.2e18`
    * (the χ² decomposition bound: no single cell can contribute more
    * than the whole statistic's `n·(min(r,c)−1)` ceiling) — rescale S
    * down one decade per extra decade of n, exactly as SurvivalScale
    * documents. The plan-embedded guard fails fast if `n ≥ S` (an
    * expected count could floor to zero and the per-cell division
    * would divide by it).
    */
  val ChiSquareScale = 1000000000000L

  /** χ² test of independence over two categorical columns — "is the
    * outcome mix different across sources/arms/sites?", the r×c
    * companion to [[abTest]]'s 2-proportion z. The textbook statistic
    * `Σ (O−E)²/E` is a SUM of float divisions — an engine-ordered
    * fold — so this runs the engine's exact identity instead: with
    * `S` = [[ChiSquareScale]],
    * {{{ E_fp = (rowTotal · colTotal · S) DIV n
    *     t_fp = (O·S − E_fp)² DIV E_fp   // = ((O−E)²/E)·S, exact int64
    *     χ²   = (Σ t_fp) / S              // ONE division }}}
    * — every `t_fp` is an exact integer (the squared diff runs in
    * decimal(38,0)/int128), their sum is order-independent, and both
    * engines reach χ² from the same int64 with one correctly-rounded
    * IEEE division. The two floors cost ~1e-12 relative vs the real-
    * valued statistic and are replayed identically per engine.
    * Zero-observed cells of the full r×c grid are INCLUDED (they
    * contribute E_fp·S-floored mass — dropping them understates χ²).
    *
    * Output: ONE row — (n, n_rows, n_cols, dof, chi2_fp, chi2).
    *
    * Scale shape: one (a,b) groupBy collapses rows to observed cells;
    * row/col totals re-aggregate the CELLS (bounded by r·c, not n);
    * the full grid is rowTotals × colTotals — a deliberate small×small
    * nested-loop join, plan-guarded by `maxCells` (the
    * [[graft.ops.GraphOps.cooccurrenceLift]] raise_error pattern: a
    * runaway-cardinality column fails fast with the size named instead
    * of fanning r·c from one task).
    */
  def chiSquareTest(
      df: DataFrame, aCol: String, bCol: String,
      maxCells: Long = 100000L): DataFrame = {
    require(maxCells >= 1, s"maxCells must be positive: $maxCells")
    val S = ChiSquareScale
    val base = df
      .filter(col(s"`$aCol`").isNotNull && col(s"`$bCol`").isNotNull)
      .select(col(s"`$aCol`").cast("string").as("__a"),
        col(s"`$bCol`").cast("string").as("__b"))
    val obs = base.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val rt = obs.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val ct = obs.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tot = obs.agg(sum(col("__o")).as("__n"))
    val dims = rt.agg(count(lit(1)).as("__nr"))
      .crossJoin(ct.agg(count(lit(1)).as("__nc")))
    // full grid, zero cells included; both sides are category-sized
    val grid = rt.crossJoin(ct)
      .join(obs, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(dims))
      // guards ride the observed column every term consumes
      .withColumn("__o",
        when(col("__nr") * col("__nc") > maxCells,
          raise_error(concat(
            lit("chiSquareTest: contingency grid "), col("__nr").cast("string"),
            lit("x"), col("__nc").cast("string"),
            lit(s" exceeds maxCells=$maxCells — these columns are not" +
              " categorical at this grain; bucket them first or raise the cap"))))
          .when(lit(S) <= col("__n"),
            raise_error(concat(
              lit(s"chiSquareTest: n="), col("__n").cast("string"),
              lit(s" >= ChiSquareScale=$S — an expected count could floor" +
                " to zero; rescale S up or shard the test"))))
          .otherwise(col("__o")))
    grid
      .withColumn("__e",
        expr(s"CAST(CAST(__ra AS DECIMAL(38,0)) * __cb * ${S}L DIV __n AS LONG)"))
      .withColumn("__t",
        expr(s"CAST(__o * ${S}L - __e AS DECIMAL(38,0)) * (__o * ${S}L - __e)" +
          " DIV __e"))
      .agg(
        max(col("__n")).as("n"),
        max(col("__nr")).as("n_rows"),
        max(col("__nc")).as("n_cols"),
        ((max(col("__nr")) - lit(1L)) * (max(col("__nc")) - lit(1L))).as("dof"),
        sum(col("__t")).as("chi2_fp"))
      .withColumn("chi2",
        round(col("chi2_fp").cast("double") / lit(S.toDouble), 6))
  }

  /** Indirectly standardized event ratio — the SMR shape: observed
    * events in each group vs the events EXPECTED if the group had the
    * whole population's per-stratum rates (age bands, case-mix tiers).
    * The classic answer to "site B has more readmissions — or just
    * older patients?". With `S` = `scale`,
    * {{{ rate_fp(s)    = (events_s · S) DIV persons_s      // reference
    *     expected_fp(g) = Σ_s persons_{g,s} · rate_fp(s)    // int64 sum
    *     smr(g)         = (observed_g · S) / expected_fp(g) // ONE division }}}
    * — the reference rates and expectations are exact integers
    * (order-independent sums), so both engines reach each group's SMR
    * from the same two int64s with one correctly-rounded IEEE
    * division, round(6). Null when a group's expectation floors to
    * zero (no reference mass — nothing to standardize against).
    * Exactness bound: `persons · S` must stay inside int64 — the
    * default 1e6 covers 9.2e12 subjects; rescale down past that.
    *
    * Scale shape: one (group, stratum) groupBy collapses subject rows;
    * the per-stratum reference re-aggregates those CELLS; the rates
    * frame is stratum-sized and broadcast back onto the cells.
    */
  def standardizedRatio(
      df: DataFrame, groupCol: String, stratumCol: String,
      eventCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val st = col(s"`$stratumCol`").cast("string")
    val e = col(s"`$eventCol`").cast("long")
    val cells = df.filter(g.isNotNull && st.isNotNull && e.isNotNull)
      .select(g.as("__g"), st.as("__s"), e.as("__e"))
      .groupBy(col("__g"), col("__s"))
      .agg(count(lit(1)).as("__p"), sum(col("__e")).as("__ev"))
    val ref = cells.groupBy(col("__s"))
      .agg(expr(s"sum(__ev) * ${scale}L DIV sum(__p)").as("__rate"))
    cells.join(broadcast(ref), Seq("__s"))
      .groupBy(col("__g").as(groupCol))
      .agg(
        sum(col("__p")).as("n_subjects"),
        sum(col("__ev")).as("observed"),
        sum(col("__p") * col("__rate")).as("expected_fp"))
      .withColumn("smr",
        when(col("expected_fp") > 0L,
          round((col("observed") * lit(scale)).cast("double") /
            col("expected_fp").cast("double"), 6)))
  }

  /** Benford first-significant-digit profile of a positive fixed-point
    * column: observed digit counts and shares next to the Benford
    * expectation log10(1 + 1/d) — the classic fabricated-data /
    * truncated-feed tripwire for financial-style value columns (a
    * uniform or single-spike digit profile on an organically-generated
    * amount column means a generator, a cap, or a unit bug upstream).
    *
    * The value is converted to integer hundredths FIRST
    * (`round(v·100)` — exact for the 2-decimal amounts this targets)
    * and the leading digit is taken from the integer's decimal string:
    * integer→string is engine-identical, whereas floor(v/10^floor(log10
    * v)) sits one libm-ulp from the wrong digit at every power of ten.
    * Non-positive and null values are excluded (Benford's law is a
    * statement about positive magnitudes), and so are values whose
    * hundredths round to zero (v < 0.005): those have no first digit at
    * the cent grain — without the floor they would emit a degenerate
    * digit-0 row whose Benford expectation log10(1 + 1/0) is a
    * division by zero (Infinity in Spark, error in a strict engine).
    * Sub-cent magnitudes that survive rounding still profile at the
    * CENT grain (0.08 → digit 8): the operator's unit is hundredths by
    * contract, not the value's own leading significant digit.
    *
    * Scale shape: a 9-row map-side-combined aggregation — one pass, no
    * shuffle beyond the 9-group exchange — plus a broadcast of the
    * 1-row total for shares.
    */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(s"`$valueCol`")
    val cents = round(v * 100d, 0).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    // cents >= 1, not just v > 0: a value in (0, 0.005) rounds to zero
    // hundredths and has no first digit (digit '0' would divide by zero
    // in the Benford expectation)
    val counts = df.filter(v.isNotNull && v > 0d && cents >= 1L)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6)
          .as("share"),
        round(log10(lit(1d) + lit(1d) / col("digit").cast("double")), 6)
          .as("benford_share"))
  }

  /** k-anonymity re-identification profile (Sweeney 2002): group rows
    * by their quasi-identifier tuple and histogram the equivalence-class
    * sizes — a row in a class of size s is re-identifiable among s
    * candidates, so classes with `class_size < k` are the release risk
    * (`at_risk = true` rows; their `row_share` is the headline "fraction
    * of records failing k-anonymity" number). The privacy audit a
    * training-data release runs before shipping an EHR-derived or
    * user-attributed corpus. Null QI values group as their own value
    * (SQL GROUP BY semantics — null is a disclosure-relevant state, not
    * an exclusion).
    *
    * Output: one row per distinct class SIZE (bounded by √(2·rows) at
    * any corpus): (class_size, n_classes, n_rows, row_share, at_risk).
    *
    * Scale shape: one map-side-combined groupBy over the QI tuple
    * (class-count-sized), a second over class sizes (distinct-size-
    * sized), the 1-row total broadcast back — nothing data-sized moves
    * after the scan. Generalization search (coarsening QIs until risk
    * clears) is the caller's loop: re-run with bucketed/truncated QI
    * columns and compare `row_share` at the same k.
    */
  def kAnonymity(
      df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column required")
    require(k >= 2, s"k must be at least 2: $k")
    val classes = df
      .groupBy(qiCols.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("class_size"))
    val sizes = classes.groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", col("class_size") * col("n_classes"))
    val total = sizes.agg(sum(col("n_rows")).as("__t"))
    sizes.crossJoin(broadcast(total))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__t").cast("double"), 6)
          .as("row_share"),
        (col("class_size") < k).as("at_risk"))
  }

  /** l-diversity release audit (Machanavajjhala et al. 2007) — the
    * companion to [[kAnonymity]]: k-anonymity bounds how many CANDIDATES
    * an attacker must choose among, but a class whose rows all share one
    * sensitive value discloses that value without re-identification (the
    * homogeneity attack). Here each quasi-identifier equivalence class
    * is scored by its count of DISTINCT sensitive values; classes with
    * `diversity < l` are at risk. Output histograms classes by their
    * diversity level: (diversity, n_classes, n_rows, row_share,
    * at_risk) — `row_share` of at-risk rows is the headline number.
    * Null sensitive values count as a distinct value (null IS a
    * disclosure-relevant state), null QI values group as their own
    * class, both per SQL GROUP BY/COUNT DISTINCT semantics.
    *
    * Scale shape: one groupBy over (QI tuple, sensitive) — the
    * distinct pre-collapse, map-side combined — then (QI tuple) and
    * diversity-level aggregates, each strictly smaller; 1-row total
    * broadcast back. Same nothing-data-sized-after-the-scan contract
    * as [[kAnonymity]].
    */
  def lDiversity(
      df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame = {
    require(qiCols.nonEmpty, "at least one quasi-identifier column required")
    require(l >= 2, s"l must be at least 2: $l")
    val qi = qiCols.map(c => col(s"`$c`"))
    // distinct (QI, sensitive) pre-collapse: exact COUNT(DISTINCT) via
    // two cheap aggregations, no Expand blow-up over wide QI tuples
    val distinctSens = df
      .groupBy(qi :+ col(s"`$sensitiveCol`").as("__s"): _*)
      .agg(count(lit(1)).as("__rows"))
    val classes = distinctSens
      .groupBy(qi: _*)
      .agg(count(lit(1)).as("diversity"), sum(col("__rows")).as("__csz"))
    val levels = classes.groupBy("diversity")
      .agg(count(lit(1)).as("n_classes"), sum(col("__csz")).as("n_rows"))
    val total = levels.agg(sum(col("n_rows")).as("__t"))
    levels.crossJoin(broadcast(total))
      .select(col("diversity"), col("n_classes"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__t").cast("double"), 6)
          .as("row_share"),
        (col("diversity") < l).as("at_risk"))
  }

  /** Shuffle-skew pre-flight: simulate hash-partitioning `df` on
    * `keyCol` into `numPartitions` buckets and profile each simulated
    * partition's load — the diagnostic you run BEFORE keying a 100 TB
    * shuffle on a column, answering "which executor melts, and why".
    * Per bucket: `n_rows` (total load), `n_keys` (distinct keys
    * landing there), `max_key_rows` (the heaviest single key's
    * contribution — `max_key_rows ≈ n_rows` means one hot key no
    * repartitioning fixes, [[SkewJoin]]-salting territory; many keys ≈
    * crowding, a partition-count problem), and `load_ratio` =
    * n_rows·P/total (1.0 = perfectly balanced). The bucket function is
    * the engine's oracle-portable Feistel mix ([[Curation.hashBucket]]
    * mod P — deliberately NOT Spark's Murmur3, so any ANSI engine
    * replays the assignment bit-exactly; as a proxy for the real
    * partitioner it answers the distributional question, which depends
    * on key multiplicity, not on which uniform hash is in play).
    *
    * Scale shape: groupBy(key) with map-side combine (the per-key
    * frame is distinct-key-sized), then a P-row aggregation; the 1-row
    * total broadcasts back (the profile-family cross pattern). Null
    * keys are excluded (they hash-partition arbitrarily in real plans;
    * profile them via [[graft.quality.QualityChecker.missingProfile]]).
    */
  def shuffleSkewProfile(
      df: DataFrame, keyCol: String, numPartitions: Int = 32,
      salt: Long = Curation.SplitSalt): DataFrame = {
    require(numPartitions >= 1 && numPartitions <= Curation.Myriad,
      s"numPartitions out of [1, ${Curation.Myriad}]: $numPartitions")
    val key = col(s"`$keyCol`")
    val perKey = df.filter(key.isNotNull)
      .groupBy(key.as("__k"))
      .agg(count(lit(1)).as("__kc"))
      .select(
        pmod(Curation.hashBucket(col("__k"), salt), lit(numPartitions.toLong))
          .as("bucket"),
        col("__kc"))
    val perBucket = perKey.groupBy("bucket")
      .agg(sum(col("__kc")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("__kc")).as("max_key_rows"))
    val total = perBucket.agg(sum(col("n_rows")).as("__t"))
    perBucket.crossJoin(broadcast(total))
      .withColumn("load_ratio",
        round(col("n_rows").cast("double") * numPartitions /
          col("__t").cast("double"), 6))
      .drop("__t")
  }

  /** Cochran–Armitage trend test — "does the outcome rate RISE with
    * the ordered exposure level?" (dose tiers, severity bands,
    * quality deciles vs a keep/drop label). Stronger than
    * [[chiSquareTest]] when the factor is ORDERED: one degree of
    * freedom spent on the monotone alternative. `levelCol` is the
    * integer level score w (its spacing IS the weighting — the classic
    * formulation), `outcomeCol` ∈ {0,1}. With per-level n_i, r_i and
    * totals N, R, Sw1 = Σw n_i, Sw2 = Σw² n_i, Swr = Σw r_i:
    * {{{ t_num    = N·Swr − R·Sw1                        // exact
    *     var_num  = R·(N−R)·(N·Sw2 − Sw1²)               // exact
    *     z        = t_num / sqrt(var_num / N)            // ONE chain }}}
    * Numerators run in decimal(38,0) (N·Sw2 reaches w²·N² — int64 dies
    * at ~3e9·w⁻¹ rows; decimal holds to any real cohort) and are
    * emitted as int64 components where they fit, with a documented
    * bound: `|w|·N² < 9.2e18` for `t_num` (band-style levels ≤ 100 →
    * N ≈ 3e8; shard or re-score coarser past that — the emission casts
    * overflow to null rather than wrapping, per Spark decimal→long).
    * z is null when the outcome is constant (R = 0 or R = N) or every
    * row sits on one level (zero weight variance).
    *
    * Scale shape: rows collapse map-side to the per-level relation
    * (level-domain-sized); everything after is a 1-row aggregate.
    */
  def trendTest(
      df: DataFrame, levelCol: String, outcomeCol: String): DataFrame = {
    val w = col(s"`$levelCol`").cast("long")
    val y = col(s"`$outcomeCol`").cast("long")
    df.filter(w.isNotNull && y.isin(0L, 1L))
      .groupBy(w.as("__w"))
      .agg(count(lit(1)).as("__n"), sum(y).as("__r"))
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__r")).as("n_events"),
        sum(col("__w") * col("__n")).as("sw1"),
        sum(col("__w") * col("__w") * col("__n")).as("sw2"),
        sum(col("__w") * col("__r")).as("swr"))
      .withColumn("t_num",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * swr - " +
          "CAST(n_events AS DECIMAL(38,0)) * sw1 AS LONG)"))
      .withColumn("z", {
        val varNum = expr(
          "CAST(n_events AS DECIMAL(38,0)) * (n - n_events) * " +
            "(CAST(n AS DECIMAL(38,0)) * sw2 - " +
            "CAST(sw1 AS DECIMAL(38,0)) * sw1)")
        val v = varNum.cast("double") / col("n").cast("double")
        when(col("n_events") > 0L && col("n_events") < col("n") && v > 0d,
          round(col("t_num").cast("double") / sqrt(v), 6))
      })
  }

  /** Directly standardized event rate per group — the mirror image of
    * [[standardizedRatio]]: instead of asking "how do this group's
    * observed events compare to expectation under pooled rates?"
    * (indirect / SMR), apply each group's OWN per-stratum rates to ONE
    * standard population (the pooled stratum sizes) so every group's
    * rate is comparable on the same case mix. With `S` = `scale`,
    * pooled stratum weight `w_s = Σ_g persons_{g,s}` and `W = Σ w_s`:
    * {{{ term_fp(g,s) = (events_{g,s} · w_s · S) DIV persons_{g,s}  // exact
    *     dsr_fp(g)    = Σ_s term_fp(g,s) DIV W                     // exact
    *     dsr(g)       = Σ_s term_fp / (W · S)                      // ONE division }}}
    * — each stratum's floor costs ≤1 on an S-scaled term and is
    * replayed identically per engine (the [[standardizedRatio]]
    * budget). `crude_fp` (the group's unstandardized rate at S) rides
    * along so the case-mix correction is visible. Strata where a group
    * has no subjects contribute zero BY CONSTRUCTION (no cell exists —
    * the convention that keeps the sum defined; a group missing a
    * heavy stratum is standardized over the strata it serves).
    * Exactness bound: `events · w · S < 9.2e18` per cell — at the
    * default S = 1e6, events·w < 9.2e12.
    *
    * Scale shape: one (group, stratum) groupBy collapses subject rows;
    * the standard weights re-aggregate those CELLS per stratum and
    * broadcast back (stratum-sized, the [[standardizedRatio]] shape);
    * one map-side-combined groupBy(group) finishes.
    */
  def directStdRate(
      df: DataFrame, groupCol: String, stratumCol: String,
      eventCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val st = col(s"`$stratumCol`").cast("string")
    val e = col(s"`$eventCol`").cast("long")
    val cells = df.filter(g.isNotNull && st.isNotNull && e.isNotNull)
      .select(g.as("__g"), st.as("__s"), e.as("__e"))
      .groupBy(col("__g"), col("__s"))
      .agg(count(lit(1)).as("__p"), sum(col("__e")).as("__ev"))
    val std = cells.groupBy(col("__s"))
      .agg(sum(col("__p")).as("__w"))
    val totW = std.agg(sum(col("__w")).as("__tw"))
    cells.join(broadcast(std), Seq("__s"))
      .withColumn("__term",
        expr(s"__ev * __w * ${scale}L DIV __p"))
      .groupBy(col("__g").as(groupCol))
      .agg(
        sum(col("__p")).as("n_subjects"),
        sum(col("__ev")).as("observed"),
        sum(col("__term")).as("__termsum"))
      .crossJoin(broadcast(totW))
      .select(
        col(groupCol), col("n_subjects"), col("observed"),
        expr(s"observed * ${scale}L DIV n_subjects").as("crude_fp"),
        expr("__termsum DIV __tw").as("dsr_fp"),
        round(col("__termsum").cast("double") /
          (col("__tw").cast("double") * lit(scale.toDouble)), 6).as("dsr"))
  }

  /** Concentration profile — Lorenz shares and the Gini coefficient
    * over per-key totals: "the top 5% of patients hold what share of
    * total cost?" (equally: of tokens per domain, of events per user).
    * Values snap to integer units first (`round(v·scale)`), keys
    * aggregate to exact int64 totals, and keys whose total is negative
    * are EXCLUDED (a net-refund entity has no place on a concentration
    * curve — Lorenz/Gini are statements about non-negative mass).
    *
    * The curve is computed over the DISTINCT-total relation with the
    * [[graft.ops.ModelEval.aucScore]] doubled-rank machinery: a tie
    * run of `t` keys at total `x` after `c` poorer keys contributes
    * exactly `x·(2tc + t² + t)` to the doubled rank-weighted sum
    * `g2 = 2·Σᵢ i·xᵢ` (ascending key order), and with `T = Σ x·t`
    * {{{ gini = (g2 − (n+1)·T) / (n·T)             // ONE division }}}
    * — every numerator term exact (g2 runs in decimal(38,0): cent
    * totals × n² outgrow int64 at ~30k keys for 1e9-cent entities).
    * Each requested bottom-fraction p (per myriad) yields one row: the
    * poorest `kcut = (n·p) DIV 10000` keys hold
    * `share_bottom = (cum_before + x·(kcut − c)) / T` — the cut always
    * lands inside one tie run, where mass is linear in key count
    * because every key in the run holds exactly `x`; the numerator is
    * exact int64, one division + round(6), and `share_top` is its
    * rounded complement. p = 10000 recovers the curve's endpoint
    * (share 1) as a built-in self-check.
    *
    * Scale shape: groupBy(key) collapses rows to the key relation
    * map-side; the distinct-TOTAL relation carries the prefix pass; the
    * p-frame is a broadcast literal of a handful of rows range-matched
    * against tie runs. The rank family's domain argument is weakest
    * here (cent-grain totals of a continuous value are nearly all
    * distinct, so the prefix relation is KEYS-sized, not domain-sized)
    * — which is why the prefix runs through [[Prefix.exclusiveSums]]
    * (r20): range-partitioned parallel cumsums, no single-task sort at
    * any key count.
    */
  def concentration(
      df: DataFrame, keyCol: String, valueCol: String,
      bottomPerMyriad: Seq[Int] = Seq(5000, 8000, 9000, 9500, 9900),
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    require(bottomPerMyriad.nonEmpty &&
      bottomPerMyriad.forall(p => p >= 0 && p <= 10000),
      s"bottomPerMyriad out of [0, 10000]: $bottomPerMyriad")
    val k = col(s"`$keyCol`")
    val v = col(s"`$valueCol`")
    val perKey = df.filter(k.isNotNull && v.isNotNull)
      .groupBy(k.as("__k"))
      .agg(sum(round(v * lit(scale.toDouble), 0).cast("long")).as("__v"))
      .filter(col("__v") >= 0L)
    val runs = perKey.groupBy(col("__v").as("__x"))
      .agg(count(lit(1)).as("__t"))
    // r20: the scaladoc's own caveat made this the one KEY-sized frame in
    // the rank family (cent totals are nearly all distinct) — the
    // single-partition window is gone; the two prefixes ride one
    // distributed pass (Prefix.exclusiveSums), exact-identical
    val ranked = Prefix.exclusiveSums(runs, Seq(col("__x")),
      Seq("__c" -> col("__t"), "__cumv" -> (col("__x") * col("__t"))))
    val totals = ranked.agg(
      sum(col("__t")).as("__n"),
      sum(col("__x") * col("__t")).as("__tot"),
      sum(col("__x").cast("decimal(38,0)") *
        (lit(2L) * col("__t") * col("__c") +
          col("__t") * col("__t") + col("__t"))).as("__g2"))
    val spark = df.sparkSession
    import spark.implicits._
    val ps = bottomPerMyriad.distinct.sorted.toDF("p_myriad")
    ranked.crossJoin(broadcast(totals))
      .crossJoin(broadcast(ps))
      // kcut = 0 keys hold share 0 — served by the first run's c = 0 row
      .withColumn("__kcut", expr("__n * p_myriad DIV 10000"))
      .filter(col("__c") <= col("__kcut") &&
        col("__kcut") <= col("__c") + col("__t") &&
        // ties between adjacent runs at the exact boundary: keep the
        // run the cut ENTERS (or the first run for kcut = 0)
        (col("__kcut") > col("__c") || col("__c") === 0L))
      .select(
        col("p_myriad"),
        col("__n").as("n_keys"),
        col("__tot").as("total_fp"),
        col("__kcut").as("kcut"),
        (col("__cumv") + col("__x") * (col("__kcut") - col("__c")))
          .as("bottom_fp"),
        when(col("__tot") > 0L,
          round((col("__cumv") + col("__x") * (col("__kcut") - col("__c")))
            .cast("double") / col("__tot").cast("double"), 6))
          .as("share_bottom"),
        when(col("__tot") > 0L,
          round(lit(1d) -
            round((col("__cumv") + col("__x") * (col("__kcut") - col("__c")))
              .cast("double") / col("__tot").cast("double"), 6), 6))
          .as("share_top"),
        when(col("__n") > 0L && col("__tot") > 0L,
          round((col("__g2").cast("double") -
            (col("__n") + 1L).cast("double") * col("__tot").cast("double")) /
            (col("__n").cast("double") * col("__tot").cast("double")), 6))
          .as("gini"))
  }

  /** Covariate balance table (standardized mean differences) — the
    * propensity-matching / confounding pre-flight: per covariate, how
    * far apart do the exposed and unexposed groups sit in pooled-SD
    * units? The |SMD| < 0.1 convention is THE table-one balance
    * readout. Values snap to the `round(x·scale)` grid; per group the
    * count and the Σx / Σx² moments are exact (decimal(38,0)); then
    * {{{ mean_g = Σx / (n_g·scale)                       // ONE division
    *     var_g  = (n_g·Σx² − (Σx)²)/(n_g·(n_g−1)·scale²) // ONE division
    *     smd    = (m1 − m0) / sqrt((v1 + v0)/2)          // rounded pair }}}
    * — `smd` runs on the ALREADY-round(6) means/variances (the
    * [[graft.ops.ModelEval.calibrationBins]] gap precedent): a
    * deterministic chain, not a float fold. Null when either group has
    * < 2 rows or the pooled variance is zero. Covariates are
    * enumerated DRIVER-SIDE (the loop is over the schema, not data) —
    * one map-side-combined two-row aggregate per covariate, unioned.
    */
  /** Quantile normalization across groups — map every group's value
    * distribution onto the POOLED distribution (the microarray-era
    * normalizer, and the cross-source feature aligner for training
    * data: after it, "top decile of source A" and "top decile of
    * source B" mean the same number). Each row's within-group midrank
    * fraction `(2r−1)/(2n_g)` selects the pooled order statistic at
    * the EXACT integer index
    * {{{ idx = ((2r−1)·N + 2n_g − 1) DIV (2n_g)   // ceil, pure int64 }}}
    * — value selection, never interpolation arithmetic, so the output
    * is a VALUE THE POOL CONTAINS and every engine picks the same one
    * (ties broken by id on both the group and pooled orders). Output:
    * input id/group/value + `norm_value`. Null group/value/id rows are
    * excluded. Exactness bound: `r·N < 9.2e18` → ~3e9 rows.
    *
    * Scale shape: one per-GROUP rank window (groups are source-grained
    * by contract — the [[Curation.tokenBudget]] caveat), the pooled
    * rank via [[Curation.rankByOrder]]'s distributed prefix sum (no
    * single-task global window), a 1-row total broadcast, and
    * one equi-join on the selected index.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val id = col(s"`$idCol`")
    val base = df.filter(g.isNotNull && v.isNotNull && id.isNotNull &&
        !isnan(v.cast("double")))
      .select(id.as(idCol), g.as(groupCol), v.cast("double").as(valueCol))
    val wg = Window.partitionBy(col(s"`$groupCol`"))
      .orderBy(col(s"`$valueCol`"), col(s"`$idCol`"))
    val ranked = base
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__ng", count(lit(1))
        .over(Window.partitionBy(col(s"`$groupCol`"))))
    val pooled = graft.ops.Curation.rankByOrder(base,
        Seq(col(s"`$valueCol`"), col(s"`$idCol`")), "__R")
      .select((col("__R") + 1L).as("__R1"),
        col(s"`$valueCol`").as("norm_value"))
    val tot = base.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("__idx",
        expr("((2 * __r - 1) * __n + 2 * __ng - 1) DIV (2 * __ng)"))
      .join(pooled, col("__idx") === col("__R1"))
      .select(col(s"`$idCol`"), col(s"`$groupCol`"), col(s"`$valueCol`"),
        col("norm_value"))
  }

  /** Stratified inverse-propensity-weighted treatment-effect estimate —
    * the causal companion to [[balanceTable]] (that op shows WHETHER
    * strata balance; this one estimates the effect AFTER weighting).
    * Within stratum s the propensity is the exact rational e_s/n_s, so
    * the Horvitz–Thompson weighted outcome sums collapse to pure
    * integer terms — no float propensity ever materializes:
    * {{{ Σ_i∈s T·Y/p̂   = y1_s·n_s / e_s          // exact rational
    *     Σ_i∈s (1−T)·Y/(1−p̂) = y0_s·n_s / (n_s−e_s)
    *     term_fp = y·n·S DIV e                   // ONE floor per stratum
    *     μ_t  = Σ term_fp / (N_ov·S·100)         // ONE division
    *     ate  = (Σ term1 − Σ term0) / (N_ov·S·100) }}}
    * with outcomes grid-snapped to cents. Strata with NO overlap (all
    * exposed or all control) have an undefined weight on one arm — the
    * positivity violation every IPW text warns about — and are
    * EXCLUDED from both sums and from N_ov, with their row and subject
    * counts reported (`n_strata_no_overlap`, `n_excluded`): the
    * estimand silently becomes the overlap-population ATE, and the
    * counts keep that restriction visible instead of buried. Output
    * ONE row: (n, n_overlap, n_strata, n_strata_no_overlap, n_excluded,
    * mu1_num_fp, mu0_num_fp, mu1, mu0, ate). Exactness bound:
    * `|y_cents|·n_s·S` runs in decimal(38,0); emitted numerators cap
    * at `|y|·N²·S/e` — int64 to ~1e5 subjects per stratum at S = 1e6
    * (drop S a decade per decade past that).
    *
    * Scale shape: one map-side-combined stratum groupBy, then a
    * strata-sized 1-row fold. Nothing subject-sized after the first
    * aggregate; no windows, no joins.
    */
  def ipwEstimate(df: DataFrame, stratumCol: String, exposureCol: String,
      outcomeCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$stratumCol`").cast("string")
    val t = col(s"`$exposureCol`").cast("long")
    val y = round(col(s"`$outcomeCol`") * lit(100d), 0).cast("long")
    val perS = df
      .filter(g.isNotNull && t.isin(0L, 1L) && col(s"`$outcomeCol`").isNotNull &&
        !isnan(col(s"`$outcomeCol`").cast("double")))
      .select(g.as("__s"), t.as("__t"), y.as("__y"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__e"),
        sum(col("__t") * col("__y")).as("__y1"),
        sum((lit(1L) - col("__t")) * col("__y")).as("__y0"))
    val dec = "decimal(38,0)"
    val overlap = col("__e") > 0L && col("__e") < col("__n")
    perS
      .withColumn("__t1", when(overlap,
        expr(s"CAST(CAST(__y1 AS $dec) * __n * ${scale}L DIV __e AS LONG)")))
      .withColumn("__t0", when(overlap,
        expr(s"CAST(CAST(__y0 AS $dec) * __n * ${scale}L DIV (__n - __e) AS LONG)")))
      .agg(
        sum(col("__n")).as("n"),
        sum(when(overlap, col("__n")).otherwise(0L)).as("n_overlap"),
        count(lit(1)).as("n_strata"),
        sum(when(overlap, 0L).otherwise(1L)).as("n_strata_no_overlap"),
        sum(when(overlap, 0L).otherwise(col("__n"))).as("n_excluded"),
        sum(col("__t1")).as("mu1_num_fp"),
        sum(col("__t0")).as("mu0_num_fp"))
      .select(col("n"), col("n_overlap"), col("n_strata"),
        col("n_strata_no_overlap"), col("n_excluded"),
        col("mu1_num_fp"), col("mu0_num_fp"),
        when(col("n_overlap") > 0L, round(col("mu1_num_fp").cast("double") /
          (col("n_overlap").cast("double") * lit(scale.toDouble) * lit(100d)),
          6)).as("mu1"),
        when(col("n_overlap") > 0L, round(col("mu0_num_fp").cast("double") /
          (col("n_overlap").cast("double") * lit(scale.toDouble) * lit(100d)),
          6)).as("mu0"),
        when(col("n_overlap") > 0L, round(
          (col("mu1_num_fp") - col("mu0_num_fp")).cast("double") /
          (col("n_overlap").cast("double") * lit(scale.toDouble) * lit(100d)),
          6)).as("ate"))
  }

  def balanceTable(df: DataFrame, exposedCol: String,
      covariates: Seq[String], scale: Long = 100L): DataFrame = {
    require(covariates.nonEmpty, "at least one covariate")
    require(scale >= 1, s"scale must be positive: $scale")
    val e = col(s"`$exposedCol`").cast("long")
    covariates.map { cv =>
      val x = col(s"`$cv`")
      val xf = round(x * lit(scale.toDouble), 0).cast("decimal(38,0)")
      val agg = df.filter(e.isin(0L, 1L) && x.isNotNull)
        .select(e.as("__e"), xf.as("__x"))
        .agg(
          sum(when(col("__e") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("__e") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("__e") === 1L, col("__x"))).as("__s1"),
          sum(when(col("__e") === 0L, col("__x"))).as("__s0"),
          sum(when(col("__e") === 1L, col("__x") * col("__x"))).as("__q1"),
          sum(when(col("__e") === 0L, col("__x") * col("__x"))).as("__q0"))
      def meanOf(nc: String, sc: String) =
        when(col(nc) > 0L,
          round(col(sc).cast("double") /
            (col(nc).cast("double") * lit(scale.toDouble)), 6))
      def varOf(nc: String, sc: String, qc: String) =
        when(col(nc) > 1L,
          round((col(nc).cast("decimal(38,0)") * col(qc) -
            col(sc) * col(sc)).cast("double") /
            (col(nc).cast("double") * (col(nc) - 1L).cast("double") *
              lit(scale.toDouble) * lit(scale.toDouble)), 6))
      agg.select(
        lit(cv).as("covariate"), col("n1"), col("n0"),
        meanOf("n1", "__s1").as("mean_exposed"),
        meanOf("n0", "__s0").as("mean_unexposed"),
        varOf("n1", "__s1", "__q1").as("var_exposed"),
        varOf("n0", "__s0", "__q0").as("var_unexposed"))
        .withColumn("smd",
          when(col("var_exposed").isNotNull && col("var_unexposed").isNotNull
            && col("var_exposed") + col("var_unexposed") > 0d,
            round((col("mean_exposed") - col("mean_unexposed")) /
              sqrt((col("var_exposed") + col("var_unexposed")) / lit(2d)), 6)))
    }.reduce(_.unionByName(_))
  }
}
