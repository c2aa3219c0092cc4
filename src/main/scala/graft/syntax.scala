package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.clean.Cleaners
import graft.ops.{AsofJoin, Curation, Dedup, Domains, Funnel, FuzzyJoin, GraphOps, Intervals, Linkage, ModelEval, Multimodal, Profiling, Similarity, TextStats, TimeSeries}
import graft.quality.QualityChecker

/** Fluent corpus API — `import graft.syntax._` and chain the engine's
  * operators directly off DataFrames, the way a pipeline author writes
  * them:
  *
  * {{{
  * import graft.syntax._
  * val curated = docs
  *   .dedupExact("text", "doc_id")
  *   .gopherFilter("text")
  *   .nearDupFilter("text", "doc_id", threshold = 0.8)
  *   .scrubPii("text")
  * }}}
  *
  * Every method delegates to the library object (Dedup / TextStats /
  * Similarity / Cleaners / QualityChecker) — no logic lives here, so the
  * fluent surface can never drift from the tested operators.
  */
object syntax {

  implicit class CorpusOps(private val df: DataFrame) extends AnyVal {

    // --- dedup ------------------------------------------------------------
    def dedupExact(textCol: String, idCol: String): DataFrame =
      Dedup.exactByContent(df, textCol, idCol)
    def nearDupPairs(textCol: String, idCol: String,
        n: Int = 3, threshold: Double = 0.8): DataFrame =
      Dedup.minhashNearDups(df, textCol, idCol, n, threshold)
    def nearDupFilter(textCol: String, idCol: String,
        n: Int = 3, threshold: Double = 0.8): DataFrame =
      Dedup.nearDupFilter(df, textCol, idCol, n, threshold)
    def nearDupClusters(textCol: String, idCol: String,
        n: Int = 3, threshold: Double = 0.8): DataFrame =
      Dedup.nearDupClusters(df, textCol, idCol, n, threshold)
    def keepClusterRepresentatives(textCol: String, idCol: String,
        n: Int = 3, threshold: Double = 0.8): DataFrame =
      Dedup.nearDupClusterKeepers(df, textCol, idCol, n, threshold)
    /** df is an edge list; see [[Dedup.triangleStats]]. */
    def triangleStats(srcCol: String, dstCol: String): DataFrame =
      Dedup.triangleStats(df, srcCol, dstCol)
    def winnowOverlapPairs(textCol: String, idCol: String,
        k: Int = 4, w: Int = 4, minShared: Int = 3): DataFrame =
      Dedup.winnowOverlapPairs(df, textCol, idCol, k, w, minShared)
    def contaminationAgainst(eval: DataFrame, textCol: String, idCol: String,
        n: Int = 3, threshold: Double = 0.8): DataFrame =
      Dedup.crossCorpusContamination(df, textCol, idCol, eval, textCol, idCol, n, threshold)
    def exactContaminationAgainst(train: DataFrame, textCol: String, idCol: String,
        n: Int = 13): DataFrame =
      Dedup.exactNgramContamination(train, textCol, df, idCol, textCol, n)
    def flagSeenIn(history: DataFrame, textCol: String,
        expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
      Dedup.dedupAgainstHistory(history, textCol, df, textCol, expectedItems, fpp)
    def dedupLines(textCol: String, idCol: String, minLineLen: Int = 1): DataFrame =
      Dedup.dedupLines(df, textCol, idCol, minLineLen)
    def dedupLinesWithinDoc(textCol: String, minLineLen: Int = 1): DataFrame =
      Dedup.dedupLinesWithinDoc(df, textCol, minLineLen)
    def crossDocShingleProfile(textCol: String, idCol: String, n: Int = 3): DataFrame =
      Dedup.crossDocShingleProfile(df, textCol, idCol, n)

    // --- text quality -----------------------------------------------------
    def withQualityMetrics(textCol: String): DataFrame =
      df.select(org.apache.spark.sql.functions.col("*") +:
        TextStats.qualityMetrics(org.apache.spark.sql.functions.col(textCol)): _*)
    def gopherFilter(textCol: String): DataFrame =
      TextStats.gopherFilter(df, textCol)
    def withLangId(textCol: String, outCol: String = "lang_pred"): DataFrame =
      df.withColumn(outCol, TextStats.langIdExpr(org.apache.spark.sql.functions.col(textCol)))
    def blocktermProfile(idCol: String, textCol: String, terms: Seq[String],
        maxPerMyriad: Int = 100): DataFrame =
      TextStats.blocktermProfile(df, idCol, textCol, terms, maxPerMyriad)
    def scrubCreditCards(textCol: String): DataFrame =
      df.withColumn(textCol, TextStats.scrubCreditCards(df(textCol)))
    def scrubPii(textCol: String): DataFrame =
      df.withColumn(textCol, TextStats.scrubPii(org.apache.spark.sql.functions.col(textCol)))
    def normalizeText(textCol: String): DataFrame =
      df.withColumn(textCol, TextStats.normalizeText(org.apache.spark.sql.functions.col(textCol)))
    def nfcNormalize(textCol: String): DataFrame =
      df.withColumn(textCol, TextStats.nfcNormalize(org.apache.spark.sql.functions.col(textCol)))

    // --- URLs -------------------------------------------------------------
    def canonicalizeUrls(urlCol: String): DataFrame =
      df.withColumn(urlCol, Domains.normalizeUrl(org.apache.spark.sql.functions.col(urlCol)))
    def domainProfile(urlCol: String): DataFrame =
      Domains.domainProfile(df, urlCol)
    def bm25TopK(idCol: String, textCol: String,
        terms: Seq[String], k: Int = 10): DataFrame =
      TextStats.bm25TopK(df, idCol, textCol, terms, k)
    /** Caching contract (both familiarity ops): the exploded token/bigram
      * frame is persisted (MEMORY_AND_DISK) and the cache OUTLIVES the
      * call — it's ~token-count-sized, so long-lived sessions doing
      * corpus-wide scoring should `graft.CachedFrames.releaseAll()` after
      * consuming the result.
      */
    def unigramFamiliarity(idCol: String, textCol: String,
        oovBelow: Long = 2L): DataFrame =
      TextStats.unigramFamiliarity(df, idCol, textCol, oovBelow)
    /** See the caching contract on [[unigramFamiliarity]]. */
    def bigramFamiliarity(idCol: String, textCol: String,
        rareBelow: Long = 2L): DataFrame =
      TextStats.bigramFamiliarity(df, idCol, textCol, rareBelow)
    /** Same caching contract as [[unigramFamiliarity]] (the exploded
      * token frame persists past the call).
      */
    def dsirWeights(idCol: String, textCol: String, isTarget: Column,
        smooth: Long = 1L): DataFrame =
      TextStats.dsirWeights(df, idCol, textCol, isTarget, smooth)

    def resampleLocf(keyCol: String, tsCol: String, valueCol: String,
        bucketWidth: Long, tiebreak: Seq[Column]): DataFrame =
      TimeSeries.resampleLocf(df, keyCol, tsCol, valueCol, bucketWidth, tiebreak)
    def resampleInterp(keyCol: String, tsCol: String, valueCol: String,
        bucketWidth: Long, tiebreak: Seq[Column]): DataFrame =
      TimeSeries.resampleInterp(df, keyCol, tsCol, valueCol, bucketWidth, tiebreak)

    // --- point-in-time joins (df is the left / event side) ----------------
    def asofJoin(right: DataFrame, keys: Seq[String],
        leftTime: String, rightTime: String, payload: Seq[String],
        tolerance: Option[Long] = None): DataFrame =
      AsofJoin.asofJoin(df, right, keys, leftTime, rightTime, payload, tolerance)
    def asofJoinForward(right: DataFrame, keys: Seq[String],
        leftTime: String, rightTime: String, payload: Seq[String],
        tolerance: Option[Long] = None): DataFrame =
      AsofJoin.asofJoinForward(df, right, keys, leftTime, rightTime, payload, tolerance)
    def asofJoinNearest(right: DataFrame, keys: Seq[String],
        leftTime: String, rightTime: String, payload: Seq[String],
        tolerance: Option[Long] = None): DataFrame =
      AsofJoin.asofJoinNearest(df, right, keys, leftTime, rightTime, payload, tolerance)
    /** Force the broadcast sorted-history path (the auto-routing in the
      * methods above uses the session's autoBroadcastJoinThreshold; call
      * this when the stats estimate is wrong in either direction).
      */
    def asofJoinBroadcast(right: DataFrame, keys: Seq[String],
        leftTime: String, rightTime: String, payload: Seq[String],
        tolerance: Option[Long] = None, backward: Boolean = true): DataFrame =
      AsofJoin.asofJoinBroadcast(df, right, keys, leftTime, rightTime, payload,
        tolerance, backward)

    // --- similarity -------------------------------------------------------
    def cosineNearDups(idCol: String, vecCol: String, threshold: Double,
        numBlocks: Int = 16): DataFrame =
      Similarity.cosineNearDupPairs(df, idCol, vecCol, threshold, numBlocks)
    def cosineClusters(idCol: String, vecCol: String, threshold: Double,
        numBlocks: Int = 16): DataFrame =
      Similarity.cosineClusters(df, idCol, vecCol, threshold, numBlocks)
    def topKNeighbors(queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
      Similarity.bruteForceTopK(df, idCol, vecCol, queries, idCol, vecCol, k)
    /** df is the BASE snapshot; see [[Similarity.embeddingDrift]]. */
    def embeddingDriftAgainst(current: DataFrame, vecCol: String): DataFrame =
      Similarity.embeddingDrift(df, current, vecCol)
    def semDedup(idCol: String, vecCol: String, threshold: Double,
        k: Int = 16, iters: Int = 2): DataFrame =
      Similarity.semDedup(df, idCol, vecCol, threshold, k, iters)
    def hardNegatives(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, dupCut: Double): DataFrame =
      Similarity.hardNegatives(df, idCol, vecCol, queries, idCol, vecCol, k, dupCut)

    // --- cleaning / profiling --------------------------------------------
    def dropNullKeys(keys: Seq[String]): DataFrame = Cleaners.dropNullKeys(df, keys)
    def dedupKeepFirst(keys: Seq[String], tiebreak: Seq[Column]): DataFrame =
      Cleaners.dedupKeepFirst(df, keys, tiebreak)
    def missingProfile(): DataFrame = QualityChecker.missingProfile(df)
    def pseudonymize(cols: Seq[String], salt: String): DataFrame =
      Cleaners.pseudonymize(df, cols, salt)
    def kAnonymity(qiCols: Seq[String], k: Long): DataFrame =
      graft.ops.Profiling.kAnonymity(df, qiCols, k)
    def lDiversity(qiCols: Seq[String], sensitiveCol: String, l: Long): DataFrame =
      graft.ops.Profiling.lDiversity(df, qiCols, sensitiveCol, l)
    /** Per-entity deterministic bounded date shifting (see
      * [[clean.Cleaners.dateShiftDeid]]).
      */
    def dateShiftDeid(keyCol: String, tsCols: Seq[String],
        maxShiftDays: Int = 30,
        salt: Long = graft.ops.Curation.DateShiftSalt): DataFrame =
      Cleaners.dateShiftDeid(df, keyCol, tsCols, maxShiftDays, salt)
    def shuffleSkewProfile(keyCol: String, numPartitions: Int = 32): DataFrame =
      graft.ops.Profiling.shuffleSkewProfile(df, keyCol, numPartitions)

    // --- survival analysis -------------------------------------------------
    def kaplanMeier(groupCol: String, durationCol: String,
        observedCol: String): DataFrame =
      TimeSeries.kaplanMeier(df, groupCol, durationCol, observedCol)
    def logRank(groupCol: String, durationCol: String, observedCol: String,
        groupOne: String): DataFrame =
      TimeSeries.logRank(df, groupCol, durationCol, observedCol, groupOne)
    def survivalQuantiles(groupCol: String, durationCol: String,
        observedCol: String): DataFrame =
      TimeSeries.survivalQuantiles(df, groupCol, durationCol, observedCol)
    def restrictedMeanSurvival(groupCol: String, durationCol: String,
        observedCol: String, tau: Long): DataFrame =
      TimeSeries.restrictedMeanSurvival(df, groupCol, durationCol, observedCol, tau)
    def cumulativeIncidence(groupCol: String, durationCol: String,
        causeCol: String, causeA: String, causeB: String): DataFrame =
      TimeSeries.cumulativeIncidence(df, groupCol, durationCol, causeCol, causeA, causeB)

    // --- multimodal -------------------------------------------------------
    def asMediaTable(idCol: String, textCol: String): DataFrame =
      Multimodal.asMediaTable(df, idCol, textCol)

    // --- curation ---------------------------------------------------------
    def groupQuota(groupCol: String, idCol: String, maxPerGroup: Int): DataFrame =
      Curation.groupQuota(df, groupCol, idCol, maxPerGroup)
    def splitSentences(textCol: String, idCol: String): DataFrame =
      Curation.splitSentences(df, textCol, idCol)
    def chunkBySentences(textCol: String, idCol: String, maxChars: Int): DataFrame =
      Curation.chunkBySentences(df, textCol, idCol, maxChars)
    def hashSplit(idCol: String, trainPerMyriad: Int, valPerMyriad: Int): DataFrame =
      Curation.hashSplit(df, idCol, trainPerMyriad, valPerMyriad)
    def weightedSample(idCol: String, weightPerMyriad: Column): DataFrame =
      Curation.weightedSample(df, idCol, weightPerMyriad)
    def stratifiedSample(idCol: String, strataCol: String,
        ratesPerMyriad: Map[String, Int], defaultPerMyriad: Int = 0): DataFrame =
      Curation.stratifiedSample(df, idCol, strataCol, ratesPerMyriad, defaultPerMyriad)
    def tokenBudget(groupCol: String, tokenCol: String, priority: Column,
        idCol: String, budget: Long): DataFrame =
      Curation.tokenBudget(df, groupCol, tokenCol, priority, idCol, budget)
    def chunkDocuments(textCol: String,
        chunkSize: Int, stride: Int): DataFrame =
      Curation.chunkDocuments(df, textCol, chunkSize, stride)
    def packSequences(idCol: String, tokenCol: String, capacity: Long,
        numPartitions: Int = 0): DataFrame =
      Curation.packSequences(df, idCol, tokenCol, capacity, numPartitions)
    def epochMixture(idCol: String, strataCol: String,
        weights: Map[String, Double]): DataFrame =
      Curation.epochMixture(df, idCol, strataCol, weights)
    def temperatureMixture(groupCol: String, idCol: String,
        alpha: Double = 0.5): DataFrame =
      Curation.temperatureMixture(df, groupCol, idCol, alpha)
    def curateCorpus(idCol: String, textCol: String,
        trainPerMyriad: Int = 9800, valPerMyriad: Int = 100): DataFrame =
      Curation.curateCorpus(df, idCol, textCol, trainPerMyriad, valPerMyriad)
    def classifierScore(idCol: String, textCol: String,
        dim: Int = 1 << 20): DataFrame =
      TextStats.classifierScore(df, idCol, textCol, dim)
    def kmeansClusters(idCol: String, vecCol: String,
        k: Int = 16, iters: Int = 2): DataFrame =
      Similarity.kmeansClusters(df, idCol, vecCol, k, iters)
    def scd2History(keyCols: Seq[String], attrCols: Seq[String],
        orderCols: Seq[String]): DataFrame =
      TimeSeries.scd2(df, keyCols, attrCols, orderCols)
    def shuffleOrder(idCol: String): DataFrame = Curation.shuffleOrder(df, idCol)
    def interleaveBySource(idCol: String, sourceCol: String): DataFrame =
      Curation.interleaveBySource(df, idCol, sourceCol)
    def rankBuckets(groupCol: String, score: Column, idCol: String,
        buckets: Int): DataFrame =
      Curation.rankBuckets(df, groupCol, score, idCol, buckets)
    def topFractionByGroup(groupCol: String, score: Column, idCol: String,
        keepPerMyriad: Long): DataFrame =
      Curation.topFractionByGroup(df, groupCol, score, idCol, keepPerMyriad)
    def fuzzyJoin(right: DataFrame, idCol: String, strCol: String,
        rightId: String, rightCol: String, maxDist: Int): DataFrame =
      FuzzyJoin.editDistanceJoin(df, idCol, strCol, right, rightId, rightCol, maxDist)
    /** Blocked Fellegi–Sunter probabilistic linkage (see
      * [[ops.Linkage.probabilisticLinkage]]).
      */
    def probabilisticLinkage(right: DataFrame, leftId: String,
        rightId: String, blockLeft: String, blockRight: String,
        fields: Seq[Linkage.LinkField], upper: Double, lower: Double,
        scale: Long = 1000L): DataFrame =
      Linkage.probabilisticLinkage(df, right, leftId, rightId, blockLeft,
        blockRight, fields, upper, lower, scale)
    /** Per-field chance-agreement (u) profile (see
      * [[ops.Linkage.uProfile]]).
      */
    def linkageUProfile(fields: Seq[String],
        scale: Long = 1000000L): DataFrame =
      Linkage.uProfile(df, fields, scale)
    def groupProfile(groupCols: Seq[String], valueCol: String): DataFrame =
      graft.ops.Incremental.groupProfile(df, groupCols, valueCol)
    def valueHistogram(valueCol: String, lo: Double, hi: Double,
        bins: Int): DataFrame =
      graft.ops.Profiling.histogram(df, valueCol, lo, hi, bins)
    def driftAgainst(current: DataFrame, valueCol: String,
        lo: Double, hi: Double, bins: Int): DataFrame =
      graft.ops.Profiling.psi(df, current, valueCol, lo, hi, bins)
    def categoryDriftAgainst(current: DataFrame, catCol: String): DataFrame =
      graft.ops.Profiling.categoricalPsi(df, current, catCol)
    def ksDriftAgainst(current: DataFrame, valueCol: String,
        topGaps: Int = 10): DataFrame =
      graft.ops.Profiling.ksDrift(df, current, valueCol, topGaps)
    def winsorize(groupCol: String, valueCol: String,
        loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame =
      graft.ops.Profiling.winsorize(df, groupCol, valueCol, loQ, hiQ)
    def applyUpsert(delta: DataFrame, keyCols: Seq[String]): DataFrame =
      graft.ops.Incremental.applyUpsert(df, delta, keyCols)
    def diffAgainst(newSnapshot: DataFrame, idCol: String,
        compareCols: Seq[String]): DataFrame =
      Curation.snapshotDiff(df, newSnapshot, idCol, compareCols)
    def withoutBlocklisted(blocklist: DataFrame, keyCol: String): DataFrame =
      Curation.blocklistFilter(df, blocklist, keyCol)
    def zorderBy(a: Column, b: Column, bits: Int = 16,
        tiebreak: Seq[Column] = Nil): DataFrame =
      Curation.zorderBy(df, a, b, bits, tiebreak)

    // --- time series / events --------------------------------------------
    def denseCounts(keyCol: String, tsCol: String, bucketWidth: Long): DataFrame =
      TimeSeries.denseCounts(df, keyCol, tsCol, bucketWidth)
    def funnelSteps(keyCol: String, tsCol: String, typeCol: String,
        steps: Seq[String], window: Long): DataFrame =
      Funnel.funnelSteps(df, keyCol, tsCol, typeCol, steps, window)
    def gapProfile(keyCol: String, tsCol: String): DataFrame =
      TimeSeries.gapProfile(df, keyCol, tsCol)
    def pivotLatest(keyCol: String, attrCol: String, tsCol: String,
        valueCol: String, attrs: Seq[String], tiebreakCol: String): DataFrame =
      TimeSeries.pivotLatest(df, keyCol, attrCol, tsCol, valueCol, attrs, tiebreakCol)
    def cohortRetention(keyCol: String, tsCol: String,
        bucketWidth: Long): DataFrame =
      TimeSeries.cohortRetention(df, keyCol, tsCol, bucketWidth)
    def transitionMatrix(keyCol: String, tsCol: String, typeCol: String,
        tiebreakCol: String): DataFrame =
      TimeSeries.transitionMatrix(df, keyCol, tsCol, typeCol, tiebreakCol)
    def cooccurrenceLift(basketCol: String, itemCol: String,
        minCount: Long = 2L): DataFrame =
      GraphOps.cooccurrenceLift(df, basketCol, itemCol, minCount)
    def groupZscores(keyCol: String, valueCol: String): DataFrame =
      Profiling.groupZscores(df, keyCol, valueCol)
    def benfordProfile(valueCol: String): DataFrame =
      Profiling.benfordProfile(df, valueCol)
    /** Top-K collocations by exact-arithmetic lift; the exploded bigram
      * cache outlives the call (see [[ops.TextStats.pmiCollocations]]).
      */
    def pmiCollocations(textCol: String,
        minCount: Long = 5L, topK: Int = 50): DataFrame =
      TextStats.pmiCollocations(df, textCol, minCount, topK)
    def ngramNextTable(textCol: String, minPrefixCount: Long = 10L): DataFrame =
      TextStats.ngramNextTable(df, textCol, minPrefixCount)
    def groupStats(keyCol: String, valueCol: String): DataFrame =
      Profiling.groupStats(df, keyCol, valueCol)
    def equidepthBins(valueCol: String, tiebreakCol: String,
        bins: Int): DataFrame =
      Profiling.equidepthBins(df, valueCol, tiebreakCol, bins)
    def minmaxScale(groupCol: String, valueCol: String): DataFrame =
      Profiling.minmaxScale(df, groupCol, valueCol)
    def abTest(variantCol: String, convertedCol: String): DataFrame =
      Profiling.abTest(df, variantCol, convertedCol)
    def robustZscores(keyCol: String, valueCol: String): DataFrame =
      Profiling.robustZscores(df, keyCol, valueCol)
    def rfmSegments(keyCol: String, tsCol: String, valueCol: String): DataFrame =
      Profiling.rfmSegments(df, keyCol, tsCol, valueCol)
    /** Int64 fixed-point PageRank over this frame read as an edge list
      * (see [[ops.GraphOps.pageRank]]).
      */
    def pageRank(srcCol: String, dstCol: String, iters: Int = 3): DataFrame =
      GraphOps.pageRank(df, srcCol, dstCol, iters)
    /** Gaps-and-islands merge of keyed `[start, end)` integer intervals;
      * `gap` > 0 makes it episode-grained (see
      * [[ops.Intervals.mergeIntervals]]).
      */
    def mergeIntervals(keyCol: String, startCol: String, endCol: String,
        gap: Long = 0L): DataFrame =
      Intervals.mergeIntervals(df, keyCol, startCol, endCol, gap)
    /** Concurrent-class co-exposure pairs, DDI-style (see
      * [[ops.Intervals.concurrentPairs]]).
      */
    def concurrentPairs(keyCol: String, classCol: String, startCol: String,
        endCol: String, maxIslandsPerKey: Long = 10000L): DataFrame =
      Intervals.concurrentPairs(df, keyCol, classCol, startCol, endCol,
        maxIslandsPerKey)
    /** Per-key count-series autocorrelation at lags 1..maxLag (see
      * [[ops.TimeSeries.autocorrelation]]).
      */
    def autocorrelation(keyCol: String, tsCol: String, bucketWidth: Long,
        maxLag: Int = 7): DataFrame =
      TimeSeries.autocorrelation(df, keyCol, tsCol, bucketWidth, maxLag)
    /** Nelson–Aalen cumulative hazard per stratum (see
      * [[ops.TimeSeries.nelsonAalen]]).
      */
    def nelsonAalen(groupCol: String, durationCol: String,
        observedCol: String): DataFrame =
      TimeSeries.nelsonAalen(df, groupCol, durationCol, observedCol)
    /** Per-key CUSUM changepoint scan (see
      * [[ops.TimeSeries.cusumChangepoint]]).
      */
    def cusumChangepoint(keyCol: String, tsCol: String,
        bucketWidth: Long): DataFrame =
      TimeSeries.cusumChangepoint(df, keyCol, tsCol, bucketWidth)
    /** Readmission profile over merged episodes (see
      * [[ops.Intervals.readmissions]]).
      */
    def readmissions(keyCol: String, startCol: String, endCol: String,
        within: Long, gap: Long = 0L): DataFrame =
      Intervals.readmissions(df, keyCol, startCol, endCol, within, gap)
    /** Incidence rate of `events` over this frame's merged exposure
      * person-time (see [[ops.Intervals.incidenceRate]]).
      */
    def incidenceRate(events: DataFrame, keyCol: String, startCol: String,
        endCol: String, eventKeyCol: String, eventTimeCol: String,
        scale: Long = 1000L): DataFrame =
      Intervals.incidenceRate(df, events, keyCol, startCol, endCol,
        eventKeyCol, eventTimeCol, scale)
    /** Exact tie-corrected Mann–Whitney U rank-sum test (see
      * [[ops.Profiling.rankSumTest]]).
      */
    def rankSumTest(groupCol: String, valueCol: String, groupOne: String,
        scale: Long = 100L): DataFrame =
      Profiling.rankSumTest(df, groupCol, valueCol, groupOne, scale)
    /** Exposure-outcome 2×2 contingency measures (see
      * [[ops.Profiling.epi2x2]]).
      */
    def epi2x2(exposedCol: String, outcomeCol: String): DataFrame =
      Profiling.epi2x2(df, exposedCol, outcomeCol)
    /** Exact fixed-point χ² test of independence (see
      * [[ops.Profiling.chiSquareTest]]).
      */
    def chiSquareTest(aCol: String, bCol: String,
        maxCells: Long = 100000L): DataFrame =
      Profiling.chiSquareTest(df, aCol, bCol, maxCells)
    /** Indirectly standardized event ratio, the SMR shape (see
      * [[ops.Profiling.standardizedRatio]]).
      */
    def standardizedRatio(groupCol: String, stratumCol: String,
        eventCol: String, scale: Long = 1000000L): DataFrame =
      Profiling.standardizedRatio(df, groupCol, stratumCol, eventCol, scale)
    /** CMH pooled odds ratio across strata (see
      * [[ops.Profiling.cmhOddsRatio]]).
      */
    def cmhOddsRatio(stratumCol: String, exposedCol: String,
        outcomeCol: String, scale: Long = 1000000L): DataFrame =
      Profiling.cmhOddsRatio(df, stratumCol, exposedCol, outcomeCol, scale)
    /** Weighted distinct-item index per key, the Charlson shape (see
      * [[ops.Profiling.weightedIndex]]).
      */
    def weightedIndex(keyCol: String, itemCol: String,
        weights: Map[String, Long]): DataFrame =
      Profiling.weightedIndex(df, keyCol, itemCol, weights)
    /** Two-group incidence rate ratio over person-time (see
      * [[ops.Profiling.rateRatio]]).
      */
    def rateRatio(groupCol: String, eventsCol: String, timeCol: String,
        groupOne: String, scale: Long = 1000L): DataFrame =
      Profiling.rateRatio(df, groupCol, eventsCol, timeCol, groupOne, scale)
    /** Kruskal–Wallis k-group rank test (see
      * [[ops.Profiling.kruskalWallis]]).
      */
    def kruskalWallis(groupCol: String, valueCol: String,
        scale: Long = 100L): DataFrame =
      Profiling.kruskalWallis(df, groupCol, valueCol, scale)
    /** Covariate balance table (SMD) between exposure groups (see
      * [[ops.Profiling.balanceTable]]).
      */
    def balanceTable(exposedCol: String, covariates: Seq[String],
        scale: Long = 100L): DataFrame =
      Profiling.balanceTable(df, exposedCol, covariates, scale)
    /** Cochran–Armitage ordered-exposure trend test (see
      * [[ops.Profiling.trendTest]]).
      */
    def trendTest(levelCol: String, outcomeCol: String): DataFrame =
      Profiling.trendTest(df, levelCol, outcomeCol)
    /** Directly standardized event rate per group (see
      * [[ops.Profiling.directStdRate]]).
      */
    def directStdRate(groupCol: String, stratumCol: String,
        eventCol: String, scale: Long = 1000000L): DataFrame =
      Profiling.directStdRate(df, groupCol, stratumCol, eventCol, scale)
    /** Lorenz shares and Gini over per-key totals (see
      * [[ops.Profiling.concentration]]).
      */
    def concentration(keyCol: String, valueCol: String,
        bottomPerMyriad: Seq[Int] = Seq(5000, 8000, 9000, 9500, 9900),
        scale: Long = 100L): DataFrame =
      Profiling.concentration(df, keyCol, valueCol, bottomPerMyriad, scale)
    /** Exact midrank ROC AUC / c-statistic (see
      * [[ops.ModelEval.aucScore]]).
      */
    def aucScore(labelCol: String, scoreCol: String,
        scale: Long = 100L): DataFrame =
      ModelEval.aucScore(df, labelCol, scoreCol, scale)
    /** Fixed-width calibration reliability bins (see
      * [[ops.ModelEval.calibrationBins]]).
      */
    def calibrationBins(labelCol: String, scoreCol: String,
        nBins: Int = 10, scale: Long = 1000000L): DataFrame =
      ModelEval.calibrationBins(df, labelCol, scoreCol, nBins, scale)
    /** Cohen's κ chance-corrected agreement (see
      * [[ops.ModelEval.kappaAgreement]]).
      */
    def kappaAgreement(rater1Col: String, rater2Col: String): DataFrame =
      ModelEval.kappaAgreement(df, rater1Col, rater2Col)
    /** Spearman rank correlation on exact midranks (see
      * [[ops.ModelEval.spearmanCorr]]).
      */
    def spearmanCorr(xCol: String, yCol: String,
        scaleX: Long = 100L, scaleY: Long = 100L): DataFrame =
      ModelEval.spearmanCorr(df, xCol, yCol, scaleX, scaleY)
    /** Brier score with climatology skill (see
      * [[ops.ModelEval.brierScore]]).
      */
    def brierScore(labelCol: String, scoreCol: String,
        scale: Long = 10000L): DataFrame =
      ModelEval.brierScore(df, labelCol, scoreCol, scale)
    /** Precision–recall curve over distinct thresholds (see
      * [[ops.ModelEval.prCurve]]).
      */
    def prCurve(labelCol: String, scoreCol: String,
        scale: Long = 100L): DataFrame =
      ModelEval.prCurve(df, labelCol, scoreCol, scale)
    /** Step-sum average precision, exact fixed point (see
      * [[ops.ModelEval.averagePrecision]]).
      */
    def averagePrecision(labelCol: String, scoreCol: String,
        scale: Long = 100L, apScale: Long = 1000000L): DataFrame =
      ModelEval.averagePrecision(df, labelCol, scoreCol, scale, apScale)
    /** Cumulative lift/gains table over fixed score bins (see
      * [[ops.ModelEval.liftTable]]).
      */
    def liftTable(labelCol: String, scoreCol: String,
        nBins: Int = 10): DataFrame =
      ModelEval.liftTable(df, labelCol, scoreCol, nBins)
    /** McNemar's paired-rater discordance test (see
      * [[ops.ModelEval.mcnemarTest]]).
      */
    def mcnemarTest(col1: String, col2: String): DataFrame =
      ModelEval.mcnemarTest(df, col1, col2)
    /** Weighted κ for ordinal categories (see
      * [[ops.ModelEval.weightedKappa]]).
      */
    def weightedKappa(rater1Col: String, rater2Col: String,
        quadratic: Boolean = true): DataFrame =
      ModelEval.weightedKappa(df, rater1Col, rater2Col, quadratic)
    /** Hosmer–Lemeshow calibration goodness-of-fit (see
      * [[ops.ModelEval.hosmerLemeshow]]).
      */
    def hosmerLemeshow(labelCol: String, scoreCol: String,
        nBins: Int = 10, scale: Long = 10000L,
        termScale: Long = 1000000L): DataFrame =
      ModelEval.hosmerLemeshow(df, labelCol, scoreCol, nBins, scale, termScale)
    /** Peak concurrent-interval census per key (see
      * [[ops.Intervals.intervalCensus]]).
      */
    def intervalCensus(keyCol: String, startCol: String, endCol: String): DataFrame =
      Intervals.intervalCensus(df, keyCol, startCol, endCol)
    /** Window-coverage (PDC adherence) ratio in exact fixed-point (see
      * [[ops.Intervals.coverageRatio]]).
      */
    def coverageRatio(keyCol: String, startCol: String, endCol: String,
        windowLen: Long, scale: Long = 10000L): DataFrame =
      Intervals.coverageRatio(df, keyCol, startCol, endCol, windowLen, scale)
  }
}
