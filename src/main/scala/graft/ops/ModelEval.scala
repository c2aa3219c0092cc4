package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation statistics over scored/labelled frames — the
  * readouts a team runs after [[graft.ops.TextStats.classifierScore]]
  * (or any risk model) produces a score column: discrimination (ROC
  * AUC via exact midranks), calibration (fixed-width reliability
  * bins), inter-rater agreement (Cohen's κ) and rank correlation
  * (Spearman ρ on exact midranks).
  *
  * Every operator follows the engine's exact fixed-point contract
  * (the [[graft.ops.Profiling.rankSumTest]] family): values snap to an
  * integer grid first, every rank/count/marginal component is exact
  * int64 (or decimal(38,0) where squares of rank sums outgrow int64),
  * and each "real" statistic spends ONE correctly-rounded IEEE
  * division (+ sqrt where defined) before a final round(6) — so two
  * engines replaying the same definition agree bit-for-bit, unlike
  * aggregation-order-dependent float folds.
  */
object ModelEval {

  /** ROC AUC (c-statistic) from a score column and a {0,1} label — the
    * probability a random positive outranks a random negative, with
    * ties counted half. Computed exactly through the Mann–Whitney
    * identity on DOUBLED midranks (the [[Profiling.rankSumTest]]
    * machinery — a tie run of `t` equal scores after `c` smaller ones
    * has doubled midrank `2c + t + 1`, int64-exact for any tie width):
    * {{{ u_x2 = Σ_pos rank_x2 − n_pos·(n_pos+1)   // = 2·U, exact
    *     auc  = u_x2 / (2·n_pos·n_neg)            // ONE division
    *     gini = u_x2 / (n_pos·n_neg) − 1          // = 2·auc − 1 }}}
    * Scores snap to the grid `round(score·scale)` first so ties are a
    * property of the DATA, not of float representation. Output: ONE
    * row — (n_pos, n_neg, u_x2, auc, gini); auc/gini null when either
    * class is empty (no ranking task exists). Exactness bound: ranks
    * are ≤ 2n, so `u_x2 ≤ 2n²` stays inside int64 to n ≈ 2.1e9 rows.
    *
    * Scale shape: rows collapse map-side to one row per DISTINCT grid
    * score (count + positive count); the rank prefix runs over that
    * distinct-score relation via [[Prefix.exclusiveSums]] (one range
    * shuffle, no window — r20: the former unpartitioned window
    * was a single-task sort, range-sized for open-ended score domains);
    * the result is a 1-row aggregate.
    */
  def aucScore(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val xd = round(s * lit(scale.toDouble), 0).cast("long")
    // NaN scores are malformed, not rank-0: round(NaN).cast(long) lands
    // on grid value 0 (non-ANSI NaN→0) and would silently rank them —
    // exclude, matching calibrationBins/brierScore's range filter
    val perV = df.filter(y.isin(0L, 1L) && s.isNotNull && !isnan(s.cast("double")))
      .select(y.as("__y"), xd.as("__x"))
      .groupBy(col("__x"))
      .agg(count(lit(1)).as("__t"),
        sum(col("__y")).as("__t1"))
    // r20: the rank prefix was a single-partition Window.orderBy over the
    // distinct-score relation — domain-bounded for fixed-range scores but
    // range-sized for open-ended ones; Prefix.exclusiveSums computes the
    // identical exact int64 prefix over one range shuffle
    Prefix.exclusiveSums(perV, Seq(col("__x")), Seq("__c" -> col("__t")))
      .withColumn("__r1x2",
        col("__t1") * (lit(2L) * col("__c") + col("__t") + lit(1L)))
      .agg(
        sum(col("__t1")).as("n_pos"),
        (sum(col("__t")) - sum(col("__t1"))).as("n_neg"),
        sum(col("__r1x2")).as("__r1x2s"))
      .withColumn("u_x2", col("__r1x2s") - col("n_pos") * (col("n_pos") + 1L))
      .select(
        col("n_pos"), col("n_neg"), col("u_x2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("u_x2").cast("double") /
            (lit(2d) * col("n_pos").cast("double") *
              col("n_neg").cast("double")), 6)).as("auc"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("u_x2").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")) -
            lit(1d), 6)).as("gini"))
  }

  /** Calibration reliability bins — "when the model says 0.7, does the
    * event happen 70% of the time?". Scores in [0, 1] land in `nBins`
    * FIXED-WIDTH bins (`least(floor(score·nBins), nBins−1)` — fixed
    * edges, not quantiles, so two snapshots' bins are comparable and
    * the bin id needs no global sort); out-of-[0,1] scores and
    * non-{0,1} labels are excluded as malformed. Per bin:
    * {{{ n, n_pos                                    // exact int64
    *     sum_score_fp = Σ round(score·scale)         // exact int64
    *     obs_rate  = n_pos / n                       // ONE division
    *     pred_rate = sum_score_fp / (n·scale)        // ONE division
    *     gap       = obs_rate − pred_rate            // on the rounded pair }}}
    * `gap` subtracts the two ALREADY-round(6) doubles and rounds again
    * — a deterministic double chain both engines replay identically
    * (no raw float fold is ever compared). Exactness bound:
    * `n·scale < 9.2e18` per bin.
    *
    * Scale shape: one map-side-combined groupBy onto ≤ `nBins` rows.
    */
  def calibrationBins(
      df: DataFrame, labelCol: String, scoreCol: String,
      nBins: Int = 10, scale: Long = 1000000L): DataFrame = {
    require(nBins >= 1, s"nBins must be positive: $nBins")
    require(scale >= 1, s"scale must be positive: $scale")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    df.filter(y.isin(0L, 1L) && s.isNotNull && s >= 0d && s <= 1d)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(y).as("n_pos"),
        sum(round(s * lit(scale.toDouble), 0).cast("long")).as("sum_score_fp"))
      .withColumn("obs_rate",
        round(col("n_pos").cast("double") / col("n").cast("double"), 6))
      .withColumn("pred_rate",
        round(col("sum_score_fp").cast("double") /
          (col("n").cast("double") * lit(scale.toDouble)), 6))
      .withColumn("gap", round(col("obs_rate") - col("pred_rate"), 6))
  }

  /** Cohen's κ — chance-corrected agreement between two categorical
    * label columns (two annotators, a model vs a gold set, two dedup
    * policies): with `n` the co-labelled rows, `n_agree` the diagonal
    * and `pe_num = Σ_k rowmarg_k · colmarg_k` the chance-agreement
    * numerator (all exact int64),
    * {{{ κ = (n·n_agree − pe_num) / (n² − pe_num)   // ONE division }}}
    * null when the chance term saturates (`n² = pe_num` — both raters
    * constant; agreement carries no information). `po`/`pe` are the
    * same exact integers spent through one division each. Exactness
    * bound: `n² < 9.2e18` → n ≈ 3e9 co-labelled rows.
    *
    * Scale shape: rows collapse map-side to the (a, b) confusion
    * relation (category² cells at most); marginals re-aggregate those
    * cells; the marginal-product join is category-sized per side. No
    * subject-cardinality window or join anywhere.
    */
  def kappaAgreement(
      df: DataFrame, rater1Col: String, rater2Col: String): DataFrame = {
    val a = col(s"`$rater1Col`").cast("string")
    val b = col(s"`$rater2Col`").cast("string")
    val obs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val rt = obs.groupBy(col("__a").as("__k")).agg(sum(col("__o")).as("__ra"))
    val ct = obs.groupBy(col("__b").as("__k")).agg(sum(col("__o")).as("__cb"))
    // categories present on only one side contribute zero product mass
    val peNum = rt.join(ct, Seq("__k"))
      .agg(coalesce(sum(col("__ra") * col("__cb")), lit(0L)).as("pe_num"))
    obs.agg(
      sum(col("__o")).as("n"),
      sum(when(col("__a") === col("__b"), col("__o")).otherwise(0L))
        .as("n_agree"))
      .crossJoin(broadcast(peNum))
      .select(
        col("n"), col("n_agree"), col("pe_num"),
        when(col("n") > 0L,
          round(col("n_agree").cast("double") / col("n").cast("double"), 6))
          .as("po"),
        when(col("n") > 0L,
          round(col("pe_num").cast("double") /
            (col("n").cast("double") * col("n").cast("double")), 6)).as("pe"),
        when(col("n") * col("n") - col("pe_num") =!= 0L,
          round((col("n") * col("n_agree") - col("pe_num")).cast("double") /
            (col("n") * col("n") - col("pe_num")).cast("double"), 6))
          .as("kappa"))
  }

  /** Brier score — mean squared error of a probability forecast
    * against its {0,1} outcome, the proper scoring rule that rewards
    * calibration AND sharpness together (AUC only sees ranking).
    * Scores snap to the grid `s_fp = round(score·scale)` so every
    * per-row squared error `(s_fp − y·scale)²` is an exact integer;
    * the sum runs in decimal(38,0) and lands back in int64 under the
    * documented bound `n·scale² < 9.2e18` (default scale 1e4 → n ≤
    * 9.2e10 rows; shard or coarsen past that):
    * {{{ brier = sse_fp / (n·scale²)               // ONE division
    *     unc   = n_pos·(n−n_pos) / n²              // ONE division
    *     bss   = 1 − round(brier)/round(unc)       // on the rounded pair }}}
    * `unc` is the climatology Brier score (always predict the base
    * rate); `bss` > 0 means the model beats it. `bss` divides the two
    * ALREADY-round(6) doubles (the [[calibrationBins]] gap precedent)
    * — a deterministic chain, not a float fold; null when the outcome
    * is constant (unc = 0). Out-of-[0,1] scores and non-{0,1} labels
    * are excluded as malformed, matching [[calibrationBins]].
    *
    * Scale shape: ONE map-side-combined 1-row aggregate — no window,
    * no join, nothing keyed on subjects.
    */
  def brierScore(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 10000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val sfp = round(s * lit(scale.toDouble), 0).cast("long")
    val err = (sfp - y * lit(scale)).cast("decimal(38,0)")
    df.filter(y.isin(0L, 1L) && s.isNotNull && s >= 0d && s <= 1d)
      .select(y.as("__y"), err.as("__e"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        sum(col("__e") * col("__e")).cast("long").as("sse_fp"))
      .withColumn("brier",
        when(col("n") > 0L,
          round(col("sse_fp").cast("double") /
            (col("n").cast("double") * lit(scale.toDouble) *
              lit(scale.toDouble)), 6)))
      .withColumn("uncertainty",
        when(col("n") > 0L,
          round((col("n_pos") * (col("n") - col("n_pos"))).cast("double") /
            (col("n").cast("double") * col("n").cast("double")), 6)))
      .withColumn("bss",
        when(col("uncertainty") > 0d,
          round(lit(1d) - col("brier") / col("uncertainty"), 6)))
  }

  /** Precision–recall curve over the DISTINCT score thresholds,
    * descending — one row per grid score with the exact cumulative
    * confusion at "predict positive ⇔ score ≥ threshold":
    * {{{ cum_tp, cum_n                      // exact int64 prefixes
    *     precision = cum_tp / cum_n         // ONE division
    *     recall    = cum_tp / n_pos         // ONE division
    *     f1        = 2·cum_tp / (cum_n + n_pos)   // ONE division }}}
    * (that f1 identity is exact on integers — no harmonic mean of
    * rounded values). Ties share a threshold BY CONSTRUCTION: a tie
    * run is one row, so no arbitrary within-tie ordering exists for
    * engines to disagree on.
    *
    * Scale shape: rows collapse map-side to the distinct-score
    * relation; the prefix is a window over that value-domain-sized
    * frame (the [[aucScore]] argument); n_pos broadcasts back as a
    * one-row literal join.
    */
  def prCurve(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val perV = prPerScore(df, labelCol, scoreCol, scale)
    val tot = perV.agg(
      sum(col("__t1")).as("__npos"), sum(col("__t")).as("__n"))
    perV.crossJoin(broadcast(tot))
      .select(
        col("__x").as("score_fp"), col("__t").as("n_at"),
        col("__t1").as("pos_at"), col("__ctp").as("cum_tp"),
        col("__cn").as("cum_n"),
        round(col("__ctp").cast("double") / col("__cn").cast("double"), 6)
          .as("precision"),
        when(col("__npos") > 0L,
          round(col("__ctp").cast("double") / col("__npos").cast("double"), 6))
          .as("recall"),
        when(col("__cn") + col("__npos") > 0L,
          round(lit(2d) * col("__ctp").cast("double") /
            (col("__cn") + col("__npos")).cast("double"), 6)).as("f1"))
  }

  /** ROC curve points — (FPR, TPR) per descending distinct grid score,
    * the [[prCurve]] twin on the false-positive axis. Counts are the
    * same exact int64 cumulatives (`cum_fp = cum_n − cum_tp`); tpr/fpr
    * spend one IEEE division each against the broadcast class totals
    * (null when the class is empty — no rate exists). The trapezoid
    * area over these points is [[aucScore]]'s exact rank form — use
    * that for the scalar; this is the curve.
    *
    * Scale shape: identical to [[prCurve]] — rows collapse map-side to
    * the distinct-grid-score relation, one window over it, a 1-row
    * totals broadcast. Nothing subject-sized past the first aggregate.
    */
  def rocCurve(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val perV = prPerScore(df, labelCol, scoreCol, scale)
    val tot = perV.agg(
      sum(col("__t1")).as("__npos"), sum(col("__t")).as("__n"))
    perV.crossJoin(broadcast(tot))
      .select(
        col("__x").as("score_fp"), col("__t").as("n_at"),
        col("__t1").as("pos_at"), col("__ctp").as("cum_tp"),
        (col("__cn") - col("__ctp")).as("cum_fp"),
        when(col("__npos") > 0L,
          round(col("__ctp").cast("double") / col("__npos").cast("double"), 6))
          .as("tpr"),
        when(col("__n") - col("__npos") > 0L,
          round((col("__cn") - col("__ctp")).cast("double") /
            (col("__n") - col("__npos")).cast("double"), 6)).as("fpr"))
  }

  /** Kolmogorov–Smirnov score separation — the credit-scoring KS: the
    * maximum gap between the positive and negative score CDFs over
    * descending thresholds, `KS = max_k |TPR_k − FPR_k|`. The argmax
    * runs on the EXACT integer cross product
    * {{{ gap_num_k = |cum_tp_k·n_neg − cum_fp_k·n_pos|   // int64-exact
    *     ks       = max gap_num / (n_pos·n_neg)          // ONE division }}}
    * so the winning threshold is a property of the counts, never of
    * float rounding; ties break to the HIGHEST threshold (the earliest
    * cut achieving the gap — the actionable one). Output ONE row:
    * (n_pos, n_neg, ks_score_fp, ks_num, ks); null ks when either
    * class is empty. Exactness bound: `cum·n < 9.2e18` → n ≈ 3e9 rows.
    *
    * Scale shape: the [[rocCurve]] relation (distinct grid scores) with
    * a 1-row argmax `max_by` finish — no second pass.
    */
  def scoreKs(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val perV = prPerScore(df, labelCol, scoreCol, scale)
    val tot = perV.agg(
      sum(col("__t1")).as("__npos"), sum(col("__t")).as("__n"))
    perV.crossJoin(broadcast(tot))
      .select(col("__x"), col("__npos"),
        (col("__n") - col("__npos")).as("__nneg"),
        abs(col("__ctp") * (col("__n") - col("__npos")) -
          (col("__cn") - col("__ctp")) * col("__npos")).as("__gap"))
      .agg(
        max(col("__npos")).as("n_pos"),
        max(col("__nneg")).as("n_neg"),
        max_by(col("__x"), struct(col("__gap"), col("__x"))).as("ks_score_fp"),
        max(col("__gap")).as("ks_num"))
      .select(col("n_pos"), col("n_neg"), col("ks_score_fp"), col("ks_num"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("ks_num").cast("double") /
            (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .as("ks"))
  }

  /** Per-subgroup ROC AUC — the fairness audit companion to
    * [[aucScore]]: the same exact doubled-midrank Mann–Whitney
    * computation, every aggregate and window PARTITIONED by the
    * subgroup column, one output row per subgroup. A model whose
    * subgroup AUCs diverge ranks one cohort's positives worse than
    * another's — the gap to audit before release (downstream diffs the
    * rows; this op reports, it does not threshold).
    *
    * Scale shape: rows collapse map-side to (group, grid score) cells;
    * the rank prefix window is partitioned by group (bounded by each
    * group's score domain); output is groups-sized. Null groups are
    * excluded — an unlabeled row belongs to no audit cohort.
    */
  def subgroupAuc(
      df: DataFrame, groupCol: String, labelCol: String, scoreCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    val g = col(s"`$groupCol`").cast("string")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val xd = round(s * lit(scale.toDouble), 0).cast("long")
    val perV = df.filter(g.isNotNull && y.isin(0L, 1L) && s.isNotNull &&
        !isnan(s.cast("double")))
      .select(g.as(groupCol), y.as("__y"), xd.as("__x"))
      .groupBy(col(s"`$groupCol`"), col("__x"))
      .agg(count(lit(1)).as("__t"), sum(col("__y")).as("__t1"))
    val wPrev = Window.partitionBy(col(s"`$groupCol`")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perV
      .withColumn("__c", coalesce(sum(col("__t")).over(wPrev), lit(0L)))
      .withColumn("__r1x2",
        col("__t1") * (lit(2L) * col("__c") + col("__t") + lit(1L)))
      .groupBy(col(s"`$groupCol`"))
      .agg(
        sum(col("__t1")).as("n_pos"),
        (sum(col("__t")) - sum(col("__t1"))).as("n_neg"),
        sum(col("__r1x2")).as("__r1x2s"))
      .withColumn("u_x2", col("__r1x2s") - col("n_pos") * (col("n_pos") + 1L))
      .select(
        col(s"`$groupCol`"), col("n_pos"), col("n_neg"), col("u_x2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round(col("u_x2").cast("double") /
            (lit(2d) * col("n_pos").cast("double") *
              col("n_neg").cast("double")), 6)).as("auc"))
  }

  /** Average precision — the area under [[prCurve]] by the standard
    * step sum `AP = Σ_k (ΔTP_k / n_pos) · P_k` over descending
    * distinct thresholds. Each term is a rational, so the sum is NOT
    * float-folded: every term floors once on an `apScale`-scaled
    * integer and the integer sum is exact —
    * {{{ term_fp = (ΔTP_k · cum_tp_k · S) DIV cum_n_k   // exact, ≤ ΔTP·S
    *     ap      = Σ term_fp / (n_pos · S)              // ONE division }}}
    * — total floor error ≤ K/(n_pos·S) for K distinct scores, and the
    * DIV replays identically per engine (the
    * [[Profiling.directStdRate]] budget). `Σ term_fp ≤ n_pos·S` keeps
    * the emitted numerator int64 for any corpus; the per-term product
    * runs in decimal(38,0). Output ONE row — (n, n_pos, ap_num, ap);
    * ap null when no positives exist.
    */
  def averagePrecision(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long = 100L, apScale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be positive: $scale")
    require(apScale >= 1, s"apScale must be positive: $apScale")
    prPerScore(df, labelCol, scoreCol, scale)
      .withColumn("__term",
        expr(s"CAST(CAST(__t1 AS DECIMAL(38,0)) * __ctp * ${apScale}L " +
          "DIV CAST(__cn AS DECIMAL(38,0)) AS LONG)"))
      .agg(
        sum(col("__t")).as("n"),
        sum(col("__t1")).as("n_pos"),
        sum(col("__term")).as("ap_num"))
      .withColumn("ap",
        when(col("n_pos") > 0L,
          round(col("ap_num").cast("double") /
            (col("n_pos").cast("double") * lit(apScale.toDouble)), 6)))
  }

  /** Shared [[prCurve]]/[[averagePrecision]] stage: the distinct-score
    * relation with exact DESCENDING cumulative counts (`__ctp` = true
    * positives, `__cn` = predicted positives at threshold `__x`).
    */
  private def prPerScore(
      df: DataFrame, labelCol: String, scoreCol: String,
      scale: Long): DataFrame = {
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val xd = round(s * lit(scale.toDouble), 0).cast("long")
    // NaN scores excluded for the same reason as [[aucScore]]: the
    // non-ANSI NaN→0 long cast would silently grid them at 0
    val perV = df.filter(y.isin(0L, 1L) && s.isNotNull && !isnan(s.cast("double")))
      .select(y.as("__y"), xd.as("__x"))
      .groupBy(col("__x"))
      .agg(count(lit(1)).as("__t"), sum(col("__y")).as("__t1"))
    // r20: descending INCLUSIVE cumulatives = descending exclusive prefix
    // (Prefix.exclusiveSums — partitioned, no single-task sort) + the
    // row's own exact int64 contribution
    Prefix.exclusiveSums(perV, Seq(col("__x").desc),
        Seq("__ctp0" -> col("__t1"), "__cn0" -> col("__t")))
      .withColumn("__ctp", col("__ctp0") + col("__t1"))
      .withColumn("__cn", col("__cn0") + col("__t"))
      .drop("__ctp0", "__cn0")
  }

  /** Cumulative lift/gains table — "if we act on everything scoring in
    * the top bins, what share of the positives do we capture, and how
    * much better than random is that?". Scores land in `nBins`
    * FIXED-WIDTH bins over [0,1] (the [[calibrationBins]] edges —
    * deterministic, no global sort), read TOP-DOWN with exact
    * cumulative counts:
    * {{{ capture  = cum_pos / R                  // ONE division
    *     cum_rate = cum_pos / cum_n              // ONE division
    *     lift     = (cum_pos·N) / (cum_n·R)      // ONE division, exact ints }}}
    * Products stay int64 under `cum_pos·N < 9.2e18` (n ≈ 3e9).
    * Malformed rows excluded as in [[calibrationBins]]; bins with no
    * rows simply don't appear (their cumulative is carried by the next
    * populated bin).
    *
    * Scale shape: one map-side-combined groupBy onto ≤ `nBins` rows;
    * the cumulative window runs over that bin-sized relation.
    */
  def liftTable(
      df: DataFrame, labelCol: String, scoreCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be positive: $nBins")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val perBin = df
      .filter(y.isin(0L, 1L) && s.isNotNull && s >= 0d && s <= 1d)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(y).as("n_pos"))
    val tot = perBin.agg(
      sum(col("n")).as("__nt"), sum(col("n_pos")).as("__rt"))
    // unpartitioned window is BOUNDED by construction here: the frame is
    // the ≤ nBins-row fixed-bin relation, never data-sized (r19-verdict
    // window audit: bounded-bin sites stay single-window, documented)
    val wCum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    perBin
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(
        col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        when(col("__rt") > 0L,
          round(col("cum_pos").cast("double") / col("__rt").cast("double"), 6))
          .as("capture"),
        round(col("cum_pos").cast("double") / col("cum_n").cast("double"), 6)
          .as("cum_rate"),
        when(col("__rt") > 0L,
          round((col("cum_pos") * col("__nt")).cast("double") /
            (col("cum_n") * col("__rt")).cast("double"), 6)).as("lift"))
  }

  /** McNemar's test — do two paired binary raters (model A vs model B
    * on the SAME rows, before/after labels) disagree symmetrically?
    * Only the discordant cells carry information: with `b` = (1,0) and
    * `c` = (0,1) counts (exact int64),
    * {{{ chi2    = (b−c)² / (b+c)                    // ONE division
    *     chi2_cc = max(|b−c|−1, 0)² / (b+c)          // continuity-corrected }}}
    * both null when b+c = 0 (perfect concordance — no test exists).
    * Rows where either label ∉ {0,1} are excluded. Exactness bound:
    * (b−c)² < 9.2e18 → 3e9 discordant rows.
    *
    * Scale shape: ONE map-side-combined 1-row aggregate.
    */
  def mcnemarTest(
      df: DataFrame, col1: String, col2: String): DataFrame = {
    val a = col(s"`$col1`").cast("long")
    val b = col(s"`$col2`").cast("long")
    df.filter(a.isin(0L, 1L) && b.isin(0L, 1L))
      .agg(
        count(lit(1)).as("n"),
        sum(when(a === 1L && b === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when(a === 1L && b === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when(a === 0L && b === 1L, 1L).otherwise(0L)).as("n01"),
        sum(when(a === 0L && b === 0L, 1L).otherwise(0L)).as("n00"))
      .withColumn("chi2",
        when(col("n10") + col("n01") > 0L,
          round(((col("n10") - col("n01")) * (col("n10") - col("n01")))
            .cast("double") / (col("n10") + col("n01")).cast("double"), 6)))
      .withColumn("chi2_cc",
        when(col("n10") + col("n01") > 0L, {
          val d = greatest(abs(col("n10") - col("n01")) - lit(1L), lit(0L))
          round((d * d).cast("double") /
            (col("n10") + col("n01")).cast("double"), 6)
        }))
  }

  /** Weighted Cohen's κ — chance-corrected agreement for ORDINAL
    * integer categories, where near-misses cost less than far misses:
    * disagreement weight `w_ij = (i−j)²` (quadratic, the default) or
    * `|i−j|` (linear). With observed cell mass O and marginals R, C
    * (all exact, products in decimal(38,0)):
    * {{{ wo = Σ w_ij·O_ij       we = Σ w_ij·R_i·C_j
    *     κ_w = (we − n·wo) / we                     // ONE division }}}
    * null when we = 0 (the marginal product mass carries no weighted
    * disagreement — e.g. both raters constant). `wo_num`/`we_num`
    * emit as int64 under the bound `maxw·n² < 9.2e18` (category span
    * ≤ 100 → n ≈ 3e7; wider spans or corpora: the κ itself still
    * computes exactly in decimal — only the emitted components cap).
    *
    * Scale shape: the [[kappaAgreement]] shape — cell relation at
    * category², marginal join at category size, 1-row finish.
    */
  def weightedKappa(
      df: DataFrame, rater1Col: String, rater2Col: String,
      quadratic: Boolean = true): DataFrame = {
    val a = col(s"`$rater1Col`").cast("long")
    val b = col(s"`$rater2Col`").cast("long")
    def w(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
      if (quadratic) (i - j) * (i - j) else abs(i - j)
    val obs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__o"))
    val rt = obs.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val ct = obs.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val weN = rt.crossJoin(broadcast(ct))
      .agg(coalesce(sum(
        w(col("__a"), col("__b")).cast("decimal(38,0)") *
          col("__ra") * col("__cb")), lit(0L).cast("decimal(38,0)"))
        .as("__we"))
    obs.agg(
      sum(col("__o")).as("n"),
      sum(w(col("__a"), col("__b")).cast("decimal(38,0)") * col("__o"))
        .as("__wo"))
      .crossJoin(broadcast(weN))
      .select(
        col("n"),
        col("__wo").cast("long").as("wo_num"),
        col("__we").cast("long").as("we_num"),
        when(col("__we") > 0L,
          round((col("__we") - col("n") * col("__wo")).cast("double") /
            col("__we").cast("double"), 6)).as("kappa_w"))
  }

  /** Hosmer–Lemeshow goodness-of-fit — does the model's predicted
    * event mass match the observed count bin-by-bin? Uses the
    * [[calibrationBins]] FIXED-WIDTH bins (deterministic edges, no
    * quantile sort). Per populated bin g with n rows, O = observed
    * positives and E_fp = Σ round(score·scale) (predicted mass at
    * `scale`), the classic term (O−E)²·n / (E·(n−E)) becomes, exactly
    * in fixed point,
    * {{{ term_fp = ((O·S − E_fp)² · n · T) DIV (E_fp · (n·S − E_fp))
    *     h_stat  = Σ term_fp / T                    // ONE division }}}
    * — per-bin floor ≤ 1/T, replayed identically per engine. Bins
    * with E_fp = 0 or E_fp = n·S (the statistic's denominator
    * vanishes) are EXCLUDED and counted in `n_bins_dropped`; `df_hl`
    * is the conventional used−2 (null when < 1). Products run in
    * decimal(38,0): (O·S−E_fp)² ≤ (n·S)² then ×n·T stays inside
    * decimal(38) for n·S < 3e12 at T = 1e6.
    *
    * Scale shape: one map-side-combined groupBy onto ≤ `nBins` rows;
    * everything after is bin-domain-sized.
    */
  def hosmerLemeshow(
      df: DataFrame, labelCol: String, scoreCol: String,
      nBins: Int = 10, scale: Long = 10000L,
      termScale: Long = 1000000L): DataFrame = {
    require(nBins >= 1, s"nBins must be positive: $nBins")
    require(scale >= 1 && termScale >= 1,
      s"scales must be positive: $scale, $termScale")
    val y = col(s"`$labelCol`").cast("long")
    val s = col(s"`$scoreCol`")
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    df.filter(y.isin(0L, 1L) && s.isNotNull && s >= 0d && s <= 1d)
      .groupBy(bin.as("__bin"))
      .agg(
        count(lit(1)).as("__n"),
        sum(y).as("__o"),
        sum(round(s * lit(scale.toDouble), 0).cast("long")).as("__e"))
      .withColumn("__ok",
        col("__e") > 0L && col("__e") < col("__n") * lit(scale))
      .withColumn("__dev",
        (col("__o") * lit(scale) - col("__e")).cast("decimal(38,0)"))
      .withColumn("__term",
        when(col("__ok"),
          expr(s"CAST(__dev * __dev * __n * ${termScale}L DIV " +
            s"(CAST(__e AS DECIMAL(38,0)) * (__n * ${scale}L - __e)) " +
            "AS LONG)")))
      .agg(
        sum(col("__n")).as("n"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_bins_used"),
        sum(when(!col("__ok"), 1L).otherwise(0L)).as("n_bins_dropped"),
        sum(col("__term")).as("h_num"))
      .withColumn("h_stat",
        when(col("n_bins_used") > 0L,
          round(col("h_num").cast("double") / lit(termScale.toDouble), 6)))
      .withColumn("df_hl",
        when(col("n_bins_used") > 2L, col("n_bins_used") - lit(2L)))
  }

  /** Spearman rank correlation — monotone association between two
    * value columns (a quality score vs human ratings, length vs
    * perplexity), robust to any monotone transform. Both columns snap
    * to fixed-point grids, each gets an exact DOUBLED midrank (the
    * [[aucScore]] tie machinery, per axis), and ρ is Pearson on those
    * integer ranks:
    * {{{ num  = n·Σrxry − Σrx·Σry
    *     den² = (n·Σrx² − (Σrx)²) · (n·Σry² − (Σry)²)
    *     ρ    = num / sqrt(den²)       // ONE division + sqrt }}}
    * The five rank sums run in decimal(38,0) (doubled ranks reach 2n,
    * so Σrxry reaches 4n³ and the cross products 4n⁴ — int64 dies at
    * ~40k rows; decimal(38,0) holds to n ≈ 1e9, the
    * [[Profiling.kruskalWallis]] precedent). Output: ONE row —
    * (n, tie_x, tie_y, rho); ρ null when either axis is a single tie
    * run (zero rank variance). tie sums stay int64 (the
    * [[Profiling.rankSumTest]] bound applies per axis).
    *
    * Scale shape: each axis's midrank is a distributed prefix over its
    * DISTINCT-value relation ([[Prefix.exclusiveSums]], r20 — no
    * single-task sort even for open-ended value domains), joined back
    * to rows on the grid value — two hash joins keyed on a value, no
    * subject-cardinality window; then one map-side-combined 1-row
    * aggregate.
    */
  def spearmanCorr(
      df: DataFrame, xCol: String, yCol: String,
      scaleX: Long = 100L, scaleY: Long = 100L): DataFrame = {
    require(scaleX >= 1 && scaleY >= 1,
      s"scales must be positive: $scaleX, $scaleY")
    val vx = col(s"`$xCol`")
    val vy = col(s"`$yCol`")
    // NaN on either axis is malformed, not grid-0 (non-ANSI NaN→0 cast)
    val rows = df.filter(vx.isNotNull && vy.isNotNull &&
        !isnan(vx.cast("double")) && !isnan(vy.cast("double")))
      .select(
        round(vx * lit(scaleX.toDouble), 0).cast("long").as("__x"),
        round(vy * lit(scaleY.toDouble), 0).cast("long").as("__y"))
    def ranks(keyCol: String): DataFrame = {
      // r20: per-axis rank prefix via the distributed Prefix pass
      // (was a single-partition Window.orderBy over the distinct grid)
      Prefix.exclusiveSums(
          rows.groupBy(col(keyCol)).agg(count(lit(1)).as("__t")),
          Seq(col(keyCol)), Seq("__c" -> col("__t")))
        .select(col(keyCol),
          (lit(2L) * col("__c") + col("__t") + lit(1L)).as(s"${keyCol}r"),
          (col("__t") * col("__t") * col("__t") - col("__t"))
            .as(s"${keyCol}tie"))
    }
    val rx = ranks("__x")
    val ry = ranks("__y")
    val tieX = rx.agg(sum(col("__xtie")).as("tie_x"))
    val tieY = ry.agg(sum(col("__ytie")).as("tie_y"))
    rows
      .join(rx.drop("__xtie"), Seq("__x"))
      .join(ry.drop("__ytie"), Seq("__y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__xr").cast("decimal(38,0)")).as("__sx"),
        sum(col("__yr").cast("decimal(38,0)")).as("__sy"),
        sum(col("__xr").cast("decimal(38,0)") * col("__xr")).as("__sxx"),
        sum(col("__yr").cast("decimal(38,0)") * col("__yr")).as("__syy"),
        sum(col("__xr").cast("decimal(38,0)") * col("__yr")).as("__sxy"))
      .crossJoin(broadcast(tieX))
      .crossJoin(broadcast(tieY))
      .select(
        col("n"), col("tie_x"), col("tie_y"),
        when(col("n") > 1L, {
          val n = col("n").cast("decimal(38,0)")
          val num = (n * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double")
          val dx = (n * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double")
          val dy = (n * col("__syy") - col("__sy") * col("__sy"))
            .cast("double")
          when(dx > 0d && dy > 0d, round(num / sqrt(dx * dy), 6))
        }).as("rho"))
  }
}
