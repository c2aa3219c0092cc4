package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.fhir.{BundleReader, Schemas}

/** Structured Streaming surface (SURVEY.md §7.6 — beyond-parity: the
  * reference only batches daily via Airflow, `json_pipeline.py:35`).
  *
  * Incremental modes for the engine's two ingest shapes:
  *  - FHIR Bundle directories: the same schema'd multiLine JSON read as
  *    [[BundleReader.readEntries]], as a file-source stream — new bundle
  *    files are picked up per micro-batch, and every downstream extractor/
  *    cleaner transform composes unchanged (they are plain projections).
  *  - Event streams: watermarked dedup (bounded state — the streaming D1),
  *    windowed/session aggregations, and custom per-key running state via
  *    `mapGroupsWithState`.
  *
  * Scale notes: state stores are keyed by the dedup/group keys only;
  * watermarks bound state size; file-source streams list incrementally
  * (maxFilesPerTrigger controls batch size at 100 TB backfills).
  */
object Streams {

  /** Streaming twin of [[BundleReader.normalizedEntries]]. */
  def readBundleStream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 1000): DataFrame =
    BundleReader.normalize(
      spark.readStream
        .schema(Schemas.bundleSchema)
        .option("multiLine", true)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", true)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .json(path)
        .select(explode(col("entry")).as("entry"))
        .select(col("entry.fullUrl").as("fullUrl"), col("entry.resource").as("resource")))

  /** Attach an event-time timestamp column derived from an epoch-MICROS
    * long (the canonical `ts` shape every graft events read produces —
    * see SparkEntry.normalizeEventTs for the unit resolution).
    */
  def withEventTime(df: DataFrame, microsCol: String, eventTimeCol: String = "event_time"): DataFrame =
    df.withColumn(eventTimeCol, timestamp_micros(col(microsCol)))

  /** Streaming D1 — exact dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped; state for keys older than
    * the watermark is evicted. (`dropDuplicatesWithinWatermark`, the
    * bounded-state form — plain `dropDuplicates` would grow state
    * forever on a 100 TB stream.)
    */
  def dedupWithinWatermark(
      df: DataFrame, eventTimeCol: String, watermark: String, keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Tumbling/sliding windowed counts per group with watermarked late-data
    * handling (the streaming G-family analog).
    */
  def windowedCounts(
      df: DataFrame, eventTimeCol: String, watermark: String,
      windowDuration: String, groupCols: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowDuration) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"))

  /** Windowed value-histogram counts — the stateful half of the streaming
    * drift monitor: per (event-time window × bin), how many values
    * arrived. Bins come from the SAME expression as the batch
    * `Profiling.histogram` ([[graft.ops.Profiling.binColumn]]), so batch
    * and stream binning cannot fork; null values are excluded on both
    * sides. State is windows × (bins + 2) rows — data-independent, the
    * property that makes a drift monitor safe to leave running against
    * an unbounded ingest. Score the sink table against a reference
    * histogram with `Profiling.psiFromCounts` (counts are exact int64,
    * so accumulation order can never wobble the hash).
    */
  def windowedValueHistogram(
      df: DataFrame, eventTimeCol: String, watermark: String,
      windowDuration: String, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowDuration),
        graft.ops.Profiling.binColumn(col(valueCol), lo, hi, bins).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Gap-based sessionization via the built-in `session_window` — the
    * streaming twin of the batch `sessionize` registry query.
    */
  def sessionWindows(
      df: DataFrame, eventTimeCol: String, watermark: String,
      gap: String, groupCols: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .groupBy(session_window(col(eventTimeCol), gap) +: groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col(eventTimeCol)).as("start_time"),
        max(col(eventTimeCol)).as("end_time"))

  /** Windowed corpus-quality monitor — the drift alarm of a continuous
    * ingest: per (event-time window × group), document count, total
    * token count and how many documents pass the Gopher rule battery.
    * A window whose keep-share or tokens-per-doc lurches is a crawl
    * regression caught while it lands, not at the next full-corpus
    * profile. All three aggregates are EXACT int64 sums (the per-doc
    * inputs are the deterministic kernel metrics), so streaming
    * accumulation order can never wobble the results — the property that
    * lets the same numbers hash-match a batch oracle.
    */
  def windowedQualityProfile(
      docs: DataFrame, eventTimeCol: String, watermark: String,
      windowDuration: String, groupCols: Seq[String], textCol: String): DataFrame =
    docs.withWatermark(eventTimeCol, watermark)
      // ONE text_metrics kernel pass feeds both the token sum and the
      // Gopher predicate (tokenCount + gopherKeep separately would scan
      // every document twice in the continuous-ingest hot path)
      .withColumn("__m", graft.functions.text_metrics(col(textCol)))
      .groupBy(window(col(eventTimeCol), windowDuration) +: groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__m").getField("n_tokens")).as("n_tokens"),
        // when/otherwise (not a bare cast-sum): an all-null-text group
        // must report 0 kept — matching the oracle's CASE — not NULL
        sum(when(graft.ops.TextStats.gopherKeepFromMetrics(col("__m")), 1L)
          .otherwise(0L)).as("n_keep"))

  /** Stream-static "seen before" flag: every incoming micro-batch joins
    * the STATIC history frame (Structured Streaming's stream-static join —
    * stateless on the stream side; the static side is incrementally
    * re-planned per batch, so a history stored as a bucketed/broadcastable
    * table costs no stream state at all). The streaming twin of
    * [[graft.ops.Dedup.dedupAgainstHistory]]'s verify stage; at 100 TB
    * front it with the Bloom prefilter (`graft.functions.might_contain`
    * over the serialized history sketch) so bloom-negative stream rows
    * skip the join entirely.
    */
  def flagSeenInStatic(
      stream: DataFrame, textCol: String,
      history: DataFrame, historyTextCol: String): DataFrame =
    graft.ops.Dedup.flagAgainstSeenSet(stream, textCol, history, historyTextCol)

  /** Stream-static POINT-IN-TIME enrichment — the streaming twin of the
    * batch `pit_lookup` composition: each stream row is matched to the
    * latest dimension version with `rightTime <= leftTime` on its key
    * (backward as-of; [[graft.ops.AsofJoin.asofJoinBroadcast]]).
    *
    * This rides the broadcast as-of path DELIBERATELY: the dim collapses
    * to one sorted history array per key on the STATIC side, and the
    * stream side is then a stateless broadcast hash join + per-row array
    * pick — no stream state, no watermark requirement, no shuffle of the
    * stream, and the static side is incrementally re-planned per
    * micro-batch (a dim refresh is picked up on the next batch). The
    * union-and-carry batch form is NOT streamable (its window would need
    * the whole key history per trigger); the broadcast form is, which is
    * why batch/streaming parity lands exactly here. The dim must be
    * broadcast-sized — the same precondition its batch caller already
    * carries, and SCD2 dims are versions-per-key, not event-sized.
    *
    * `tolerance` (left-time units) bounds staleness like the batch op.
    */
  def asofEnrichStatic(
      stream: DataFrame, dim: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      tolerance: Option[Long] = None): DataFrame =
    graft.ops.AsofJoin.asofJoinBroadcast(
      stream, dim, keys, leftTime, rightTime, payload, tolerance)

  /** Streaming per-entity anomaly scoring against a STATIC trained
    * profile — the streaming twin of the batch
    * [[graft.ops.Profiling.groupZscores]], completing batch/stream
    * parity for the profiling family the way [[asofEnrichStatic]] did
    * for the time-series family. The profile (per-key exact fixed-point
    * moments, [[graft.ops.Profiling.groupStats]] — train it at the SAME
    * `scale` passed here) is trained batch-side over
    * history; the stream side is then a STATELESS stream-static join +
    * per-row arithmetic — no watermark requirement, no state store, and
    * the static side is re-planned per micro-batch so a profile refresh
    * lands on the next trigger. Scoring goes through the same shared
    * join/score definition as the batch path, so the two cannot drift;
    * thresholding stays caller policy there and here.
    */
  def zscoreEnrichStatic(
      stream: DataFrame, keyCol: String, valueCol: String,
      profile: DataFrame, scale: Long = 100L): DataFrame =
    graft.ops.Profiling.scoreAgainstStats(
      stream, keyCol, valueCol, profile, scale)

  /** Watermarked STREAM-STREAM interval join — the two-sided stateful
    * join (attribution: every right event within `[left time, left time
    * + within]` of a matching-key left event). Both sides carry the
    * watermark AND the join condition bounds the event-time distance —
    * that pair is what lets Structured Streaming evict join state: each
    * side retains only ~`watermark + within` of history instead of
    * growing forever (an unbounded-state stream-stream join is the
    * classic production OOM). Frames are aliased `l`/`r`; callers
    * disambiguate shared column names as `l.<col>` / `r.<col>`.
    *
    * Inner join only here: outer stream-stream joins emit null-padded
    * rows on watermark expiry, making results depend on ingestion
    * timing — the opposite of this library's oracle-reproducibility
    * contract.
    */
  def intervalJoinStreams(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      watermark: String, within: String): DataFrame = {
    require(keyCols.nonEmpty, "stream-stream join needs at least one equality key")
    val l = left.withWatermark(leftTimeCol, watermark).alias("l")
    val r = right.withWatermark(rightTimeCol, watermark).alias("r")
    val keyCond = keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val rt = col(s"r.$rightTimeCol")
    val lt = col(s"l.$leftTimeCol")
    l.join(r, keyCond && rt >= lt && rt <= lt + expr(s"INTERVAL $within"), "inner")
  }

  final case class UserEvent(user_id: Long, event_id: Long, value: Double)
  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double, max_event_id: Long)

  /** Custom per-key running state (`flatMapGroupsWithState`): running
    * event count / value sum / high-water-mark per user, emitted on every
    * update. The custom-state escape hatch for semantics windowed aggs
    * can't express (the state is a single small struct per key —
    * state-store size = #distinct users).
    * `ttl` ([[timeoutConf]] — the same lease every stateful op here
    * takes): a user idle past the lease forgets its running totals — the
    * next event after a long silence counts from zero, and dead users
    * stop pinning state on an unbounded-user ingest. No event-time
    * variant by construction: [[UserEvent]] carries no event-time field
    * for a watermark to ride — ops whose input has a `ts` all take
    * `eventTimeTtl` (and [[neardupCandidates]], whose [[BandDoc]] is
    * likewise ts-less, has the ts-bearing
    * [[neardupCandidatesEventTime]] twin since r15).
    */
  def runningUserStats(events: Dataset[UserEvent],
      ttl: Option[String] = None): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update, timeoutConf(ttl)) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, Long.MinValue))
            val next = rows.foldLeft(prev) { (acc, e) =>
              UserStats(userId, acc.n_events + 1, acc.sum_value + e.value,
                math.max(acc.max_event_id, e.event_id))
            }
            state.update(next)
            ttl.foreach(state.setTimeoutDuration) // lease renewed on traffic
            Iterator.single(next)
          }
      }
  }

  final case class ObsEvent(user_id: Long, event_id: Long, ts: Long, value: Option[Double])
  final case class ObsCarry(user_id: Long, event_id: Long, ts: Long,
      value: Option[Double], carried: Option[Double])

  /** Resolve the timeout conf for an optional processing-time TTL: the
    * shared contract of every stateful op below. `None` (the default)
    * is NoTimeout — state lives forever, exactly the pre-TTL behavior,
    * which is what the single-batch oracle gates replay. `Some(d)`
    * (e.g. "30 minutes") arms a PROCESSING-time lease per key, renewed
    * on every batch that touches the key: a key idle past the TTL is
    * timed out at the next trigger and its state dropped (or flushed,
    * where the op documents it). Processing time, not event time, so
    * expiry needs no watermark and fires even when the whole stream
    * goes quiet — the production bound on unbounded-key ingests where
    * dead keys (retired devices, deleted documents) otherwise pin
    * state forever.
    *
    * Execution note: arming a processing-time timeout makes
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` answer true
    * unconditionally, so the engine keeps scheduling NO-DATA batches
    * (at the trigger cadence) to sweep expired keys — which is what
    * lets a quiet stream still evict. Two consequences: set a real
    * trigger interval in production (the default 0 ms trigger
    * busy-loops batches), and never wait on
    * `StreamingQuery.processAllAvailable` with a TTL armed — its
    * "no new data" latch never sets (poll the sink/progress instead,
    * as the TTL specs do).
    */
  private def timeoutConf(ttl: Option[String]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Attach the event-time watermark every data-clock lease rides: a
    * `__event_time` column derived from `microsCol` (epoch-MICROS, the
    * engine's canonical event-time shape) with `delay` lateness
    * tolerance. No-op when `armed` is false so the non-event-time
    * paths keep their exact pre-existing plan.
    */
  private def watermarkedInput[T: org.apache.spark.sql.Encoder](
      ds: Dataset[T], armed: Boolean,
      microsCol: String, delay: String): Dataset[T] =
    if (!armed) ds
    else ds.toDF()
      .withColumn("__event_time", timestamp_micros(col(microsCol)))
      .withWatermark("__event_time", delay)
      .as[T]

  /** The data-clock lease arithmetic every event-time variant shares:
    * expire when the watermark passes `tsMicros` + `d`, clamped
    * STRICTLY ahead of the current watermark (Spark requires an
    * event-time timeout/timer above it).
    */
  private def dataClockLeaseMs(
      tsMicros: Long, d: java.time.Duration, watermarkMs: Long): Long =
    math.max(tsMicros / 1000L + d.toMillis, watermarkMs + 1L)

  /** An event-time episode flush lease must EXCEED the merge gap: a
    * lease within the gap could flush an episode while point intervals
    * that batch semantics would merge are still admissible above the
    * watermark — output would then depend on batch boundaries, the
    * exact nondeterminism event-time flushing exists to remove. (Long
    * intervals reaching far past their start can still straddle a
    * flush — the inherent open-episode trade of every streaming flush;
    * size the lease ≥ gap + the corpus's max interval length to
    * exclude that too.)
    */
  private def requireFlushExceedsGap(
      flush: Option[java.time.Duration], gapMicros: Long): Unit =
    flush.foreach { d =>
      require(d.toNanos / 1000L > gapMicros,
        s"event-time idle flush ($d) must exceed gap ($gapMicros micros): " +
          "a flush lease within the merge gap can emit an episode while " +
          "mergeable rows are still admissible, making output depend on " +
          "batching")
    }

  /** Streaming LOCF enrichment (`flatMapGroupsWithState`) — the stateful
    * twin of [[graft.ops.TimeSeries.resampleLocf]]'s carry: every event
    * is emitted with its key's latest non-null observation at-or-before
    * it (including itself), and the carry survives across micro-batches
    * in per-key state (ONE double per key — state-store size = #keys,
    * not #events). The stateful-streaming shape a vitals monitor needs:
    * "each reading, plus the last known value at that moment".
    * `ttl` ([[timeoutConf]]): a key idle past the lease forgets its
    * carry — the next event after a long silence starts from "nothing
    * observed", which is the honest reading for a monitor that has
    * been dark longer than its data is trustworthy.
    *
    * Determinism contract: events are processed in `(ts, event_id)`
    * order WITHIN each (key, micro-batch) — the group's batch iterator
    * is sorted here, so arrival order inside a batch never matters —
    * and across batches the carry only rolls forward, so results equal
    * the batch window exactly when per-key event time is monotone
    * ACROSS batches (the standard watermark/file-ordering contract;
    * a single-batch run — e.g. one input file — is always exact).
    * Memory: one (key, batch) group is buffered to sort — bounded by
    * per-key per-trigger volume, the quantity `maxFilesPerTrigger`
    * already throttles.
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`) is the
    * replay-correct lease — same construction and trade as
    * [[latestState]]'s: watermark over `ts` epoch-micros with
    * `watermarkDelay` tolerance, the carry expiring when the watermark
    * passes the key's latest event time + ttl, so a fast backlog
    * replay forgets exactly the carries that went stale in EVENT time
    * (a wall-clock lease forgets nothing on a fast replay — state
    * balloons to every key ever seen). In this mode the state holds
    * (carry, carry source ts, carry source event_id, latest event-time
    * micros), and the fold is ORDER-CORRECT under bounded disorder
    * ([[locfFoldOrdered]]): a late-but-admissible observation never
    * overrides a newer carry, each row carries the best known
    * observation at-or-before its own (ts, event_id), and the lease
    * rides the key's monotone latest event time — a late batch can
    * regress neither the carry nor the lease. (Separate state shape by
    * design: the non-event-time path keeps its original Double state,
    * so existing processing-time checkpoints stay restorable.
    * Checkpoints are NOT portable across modes or across the r14
    * order-correct upgrade of the event-time layout itself — the
    * flatMapGroupsWithState state-schema check fails loudly on a
    * mismatch, so restart such a query from a fresh checkpoint.)
    */
  def locfEnrich(events: Dataset[ObsEvent],
      ttl: Option[String] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[ObsCarry] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    eventTimeTtl match {
      case Some(d) =>
        watermarkedInput(events, armed = true, "ts", watermarkDelay)
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[(Double, Long, Long, Long), ObsCarry](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            (userId: Long, rows: Iterator[ObsEvent],
             state: GroupState[(Double, Long, Long, Long)]) =>
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                val carry0 = state.getOption.map { case (v, ts, id, _) => (v, ts, id) }
                val (out, carry, batchMaxTs) = locfFoldOrdered(userId, rows, carry0)
                // latest event time is MONOTONE across batches — a late
                // batch must never regress the lease
                val maxTs = math.max(
                  state.getOption.map(_._4).getOrElse(Long.MinValue), batchMaxTs)
                carry.foreach { case (v, ts, id) => state.update((v, ts, id, maxTs)) }
                if (state.exists)
                  state.setTimeoutTimestamp(
                    dataClockLeaseMs(maxTs, d, state.getCurrentWatermarkMs()))
                out.iterator
              }
          }
      case None =>
        events
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[Double, ObsCarry](
            OutputMode.Append, timeoutConf(ttl)) {
            (userId: Long, rows: Iterator[ObsEvent], state: GroupState[Double]) =>
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                val (out, carry) = locfFoldLegacy(userId, rows, state.getOption)
                carry.foreach(state.update)
                // lease renewed on traffic — but only when state EXISTS:
                // an all-null batch with no prior carry would otherwise
                // persist an empty state row carrying nothing but a
                // timeout ("state lives only while there is something to
                // remember")
                if (state.exists) ttl.foreach(state.setTimeoutDuration)
                out.iterator
              }
          }
    }
  }

  /** The legacy LOCF fold shared by both APIs' non-event-time modes:
    * sort the (key, batch) group by `(ts, event_id)`, roll the carry in
    * that order (the documented monotone-across-batches contract — the
    * Double state cannot retain the carry's source). Returns (emitted
    * rows, final carry).
    */
  private def locfFoldLegacy(userId: Long, rows: Iterator[ObsEvent],
      carry0: Option[Double]): (IndexedSeq[ObsCarry], Option[Double]) = {
    var carry = carry0
    val out = rows.toIndexedSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
      if (e.value.isDefined) carry = e.value
      ObsCarry(userId, e.event_id, e.ts, e.value, carry)
    }
    (out, carry)
  }

  /** Order-correct LOCF fold for the EVENT-TIME modes: the carry keeps
    * its source `(ts, event_id)`, a late-but-admissible observation
    * never overrides a newer carry, and each row is emitted with the
    * latest non-null observation at-or-before ITS OWN `(ts, event_id)`
    * among everything known (the stored carry + this batch) — the
    * closest stream-side answer to the batch IGNORE-NULLS window under
    * bounded disorder (`watermarkDelay` bounds how disordered input
    * can be; observations older than an already-forgotten horizon are
    * unknowable by construction). The legacy modes keep the plain
    * rolling fold: their Double state cannot retain the carry's
    * source, and upgrading it would break existing checkpoints.
    * Returns (emitted rows, new carry (value, ts, id), batch max ts).
    */
  private def locfFoldOrdered(userId: Long, rows: Iterator[ObsEvent],
      carry0: Option[(Double, Long, Long)])
      : (IndexedSeq[ObsCarry], Option[(Double, Long, Long)], Long) = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.ts, e.event_id))
    var batchCarry: Option[(Double, Long, Long)] = None
    val out = sorted.map { e =>
      if (e.value.isDefined) batchCarry = Some((e.value.get, e.ts, e.event_id))
      // best known observation at-or-before THIS row: the stored carry
      // qualifies only when its source is not in the row's future
      val stateC = carry0.filter { case (_, ts, id) =>
        ts < e.ts || (ts == e.ts && id <= e.event_id) }
      val eff = (stateC.toSeq ++ batchCarry.toSeq)
        .maxByOption { case (_, ts, id) => (ts, id) }
      ObsCarry(userId, e.event_id, e.ts, e.value, eff.map(_._1))
    }
    val newCarry = (carry0.toSeq ++ batchCarry.toSeq)
      .maxByOption { case (_, ts, id) => (ts, id) }
    (out, newCarry, if (sorted.isEmpty) Long.MinValue else sorted.last.ts)
  }

  /** Order-correct transitions fold (ALL modes — the marker state
    * already holds its source `(ts, event_id)`, so this upgrade is
    * checkpoint-compatible): each event pairs with the latest KNOWN
    * event strictly-or-equal before it by `(ts, event_id)` (the stored
    * marker qualifies only when not in the row's future), and the
    * marker itself is MONOTONE — max(stored, batch) — so a late batch
    * neither regresses the marker nor (in the event-time mode) the
    * lease riding it. Under per-key monotone input this is exactly the
    * old rolling fold; under bounded disorder it is strictly closer to
    * the batch lag-window (an out-of-order arrival no longer pairs a
    * FUTURE event's type onto an older row, nor hijacks the chain).
    */
  private def transitionsFoldOrdered(userId: Long, rows: Iterator[TypedEvent],
      marker0: Option[(Long, Long, String)])
      : (IndexedSeq[Transition], Option[(Long, Long, String)]) = {
    // Dedupe the batch by (ts, event_id) BEFORE folding: a within-batch
    // at-least-once redelivery (two copies of one event in the same
    // trigger) must behave exactly like the cross-batch case — the
    // strictlyBefore filter below stops a copy pairing with ITSELF, but
    // the first copy's true predecessor is still known, so without this
    // dedupe each extra copy would re-emit the same transition once per
    // copy while a cross-batch redelivery emits nothing. Keep-first on
    // the sorted run (copies of one event agree on everything but are
    // deduped on identity, not payload).
    val sorted = rows.toIndexedSeq.sortBy(e => (e.ts, e.event_id))
      .distinctBy(e => (e.ts, e.event_id))
    var batchPrev: Option[(Long, Long, String)] = None
    val out = sorted.flatMap { e =>
      // STRICTLY before (unlike LOCF, where a row carrying itself is
      // intended): an at-least-once redelivery of an event — across
      // batches (the stored marker) or within one (a duplicate batch
      // row) — must not pair the event with itself
      def strictlyBefore(ts: Long, id: Long): Boolean =
        ts < e.ts || (ts == e.ts && id < e.event_id)
      val stateM = marker0.filter { case (ts, id, _) => strictlyBefore(ts, id) }
      val batchM = batchPrev.filter { case (ts, id, _) => strictlyBefore(ts, id) }
      val pred = (stateM.toSeq ++ batchM.toSeq)
        .maxByOption { case (ts, id, _) => (ts, id) }
      val t = pred.map { case (_, _, fromType) =>
        Transition(userId, fromType, e.event_type) }
      batchPrev = Some((e.ts, e.event_id, e.event_type))
      t
    }
    val newMarker = (marker0.toSeq ++ batchPrev.toSeq)
      .maxByOption { case (ts, id, _) => (ts, id) }
    (out, newMarker)
  }

  final case class TypedEvent(user_id: Long, event_id: Long, ts: Long, event_type: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming event transitions — the stateful twin of
    * [[graft.ops.TimeSeries.transitionMatrix]]'s pair stage: every
    * event is paired with its key's PREVIOUS event type, and the
    * previous-event marker survives across micro-batches in per-key
    * state (one (ts, event_id, type) triple per key — state-store size
    * = #keys). Downstream aggregation to the (from, to) matrix is
    * batch-side arithmetic over the emitted pairs.
    *
    * Determinism contract ([[transitionsFoldOrdered]], all modes): the
    * (key, batch) group is sorted by `(ts, event_id)` before folding
    * (arrival order inside a batch never matters), the marker is
    * MONOTONE — max(stored, batch) by `(ts, event_id)` — and each
    * event pairs with the latest KNOWN event at-or-before its own
    * `(ts, event_id)`, so results equal the batch lag-window exactly
    * when per-key event time is monotone across batches (always true
    * for a single-batch run) and degrade gracefully under disorder (a
    * late arrival can miss its true predecessor if that was only seen
    * in an earlier batch, but never pairs a FUTURE event's type onto
    * an older row and never hijacks the live chain).
    * `ttl` ([[timeoutConf]]): a key idle past the lease forgets its
    * previous-event marker — the first event after a long silence
    * starts a fresh chain instead of pairing with a stale predecessor.
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`): the
    * replay-correct lease — same construction and trade as
    * [[latestState]]'s (watermark over `ts` epoch-micros,
    * `watermarkDelay` tolerance, marker expiring when the watermark
    * passes its event time + ttl). "A fresh chain after a long
    * silence" is an EVENT-time statement — on a backlog replay only
    * this form breaks chains at the data's silences rather than the
    * cluster's stalls.
    */
  def transitionsStateful(events: Dataset[TypedEvent],
      ttl: Option[String] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[Transition] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    val src = watermarkedInput(events, eventTimeTtl.isDefined, "ts", watermarkDelay)
    val conf =
      if (eventTimeTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else timeoutConf(ttl)
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Append, conf) {
        (userId: Long, rows: Iterator[TypedEvent],
         state: GroupState[(Long, Long, String)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (out, marker) = transitionsFoldOrdered(userId, rows, state.getOption)
            marker.foreach(state.update)
            ttl.foreach(state.setTimeoutDuration)
            eventTimeTtl.foreach { d =>
              // data-clock lease riding the MARKER's event time — which
              // is the key's MONOTONE latest event time (the fold takes
              // max(stored, batch)), so a late batch never regresses
              // the lease. State always exists here: the marker is
              // defined after any non-empty batch.
              marker.foreach { case (ts, _, _) =>
                state.setTimeoutTimestamp(
                  dataClockLeaseMs(ts, d, state.getCurrentWatermarkMs()))
              }
            }
            out.iterator
          }
      }
  }

  final case class IntervalRow(user_id: Long, ivs: Long, ive: Long)
  final case class Episode(user_id: Long, mstart: Long, mend: Long, n_merged: Long)

  /** Streaming episodes-of-care construction — the stream side of
    * [[graft.ops.Intervals.mergeIntervals]] with a gap tolerance: one
    * open episode per key in state; an arriving interval either
    * extends it (`start ≤ reach + gap`) or CLOSES it (the closed
    * episode is emitted, the new interval opens the next). Append
    * output: only closed episodes flow downstream — the per-key
    * trailing episode stays open in state, which is the honest
    * streaming answer (it may still grow). `ttl` ([[timeoutConf]])
    * CLOSES it: a key idle past the lease has its open episode
    * FLUSHED downstream (not dropped — an episode is data, unlike the
    * other ops' carry markers) and its state removed, so every
    * episode eventually reaches the sink and dead keys stop pinning
    * state. Within a batch the (key, batch)
    * group is sorted by `(ivs, ive)` before folding, so arrival order
    * inside a batch never matters; results equal the batch merge
    * minus each key's LAST island exactly when per-key starts are
    * monotone across batches (always true for a single-batch run —
    * the [[transitionsStateful]] determinism contract).
    *
    * Scale shape: state = one 3-long struct per key with an open
    * episode — bounded by key cardinality, not event volume.
    *
    * `eventTimeIdleFlush` (mutually exclusive with `ttl`) is the
    * REPLAY-CORRECT flush — event-time sessionization: a watermark is
    * attached over `ive` (epoch-MICROS, the engine's canonical
    * event-time shape) with `watermarkDelay` lateness tolerance, and
    * the open episode flushes when the watermark passes its reach +
    * the idle gap. Replaying a year of history in minutes flushes
    * exactly the episodes whose keys went quiet in EVENT time — a
    * wall-clock lease would flush nothing on a fast replay and flush
    * live episodes mid-stream on a stalled one. Caveats shared with
    * [[latestState]]'s eventTimeTtl: a totally silent stream never
    * advances the watermark (nothing flushes until data flows), and
    * Spark's EventTimeTimeout drops input rows older than the current
    * watermark before they reach the operator, so `watermarkDelay`
    * bounds how late an interval may arrive.
    */
  def episodeState(iv: Dataset[IntervalRow], gap: Long,
      ttl: Option[String] = None,
      eventTimeIdleFlush: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[Episode] = {
    require(gap >= 0, s"gap must be non-negative: $gap")
    require(ttl.isEmpty || eventTimeIdleFlush.isEmpty,
      "ttl (processing-time) and eventTimeIdleFlush (watermark-driven) are mutually exclusive")
    requireFlushExceedsGap(eventTimeIdleFlush, gap)
    import iv.sparkSession.implicits._
    val src = watermarkedInput(iv, eventTimeIdleFlush.isDefined, "ive", watermarkDelay)
    val conf =
      if (eventTimeIdleFlush.isDefined) GroupStateTimeout.EventTimeTimeout
      else timeoutConf(ttl)
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), Episode](
        OutputMode.Append, conf) {
        (uid: Long, rows: Iterator[IntervalRow],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // flush, don't drop: the open episode is the key's data
            val flushed = state.getOption
              .map { case (ms, me, n) => Episode(uid, ms, me, n) }
            state.remove()
            flushed.iterator
          } else {
            var cur: Option[(Long, Long, Long)] = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[Episode]
            rows.toIndexedSeq.filter(r => r.ive >= r.ivs)
              .sortBy(r => (r.ivs, r.ive)).foreach { r =>
                cur match {
                  case Some((ms, me, n)) if r.ivs <= me + gap =>
                    cur = Some((ms, math.max(me, r.ive), n + 1L))
                  case Some((ms, me, n)) =>
                    out += Episode(uid, ms, me, n)
                    cur = Some((r.ivs, r.ive, 1L))
                  case None =>
                    cur = Some((r.ivs, r.ive, 1L))
                }
              }
            cur.foreach(state.update)
            ttl.foreach(state.setTimeoutDuration)
            eventTimeIdleFlush.foreach { d =>
              // the flush lease rides the data's clock: fire when the
              // watermark passes the open episode's reach + idle gap
              // (the reach is monotone per key, so the lease never
              // regresses). Arm only when an episode is actually open:
              // an all-invalid batch with no prior state has nothing to
              // flush (and Spark rejects a timeout on a key with no
              // state value).
              cur.foreach { case (_, me, _) =>
                state.setTimeoutTimestamp(
                  dataClockLeaseMs(me, d, state.getCurrentWatermarkMs()))
              }
            }
            out.iterator
          }
      }
  }

  final case class KeyLatest(
    user_id: Long, ts: Long, event_id: Long, value: Option[Double])

  /** Streaming CDC state-table maintenance: the latest row per key,
    * upserted as events arrive — the stream side of
    * [[graft.ops.Incremental.applyUpsert]] (there the delta is a batch;
    * here it drips in and the state store IS the base table). One
    * [[KeyLatest]] struct per key in state; each micro-batch emits ONLY
    * the keys whose winner actually changed (`flatMapGroupsWithState` —
    * a batch of purely-late rows emits nothing, so stale arrivals never
    * produce downstream churn; the sink is an upsert feed, latest-wins
    * by (ts, event_id)). The winner is resolved IN state,
    * deterministically, by the same (ts, event_id) total order the
    * batch twin ranks on.
    *
    * Scale shape: state = one small struct per distinct key, and `ttl`
    * ([[timeoutConf]]) bounds key cardinality: a key idle past the
    * lease is evicted at the next trigger, so dead keys (retired
    * devices, deleted entities) stop pinning state on an
    * unbounded-new-keys ingest. Semantics under eviction: the sink
    * already holds the evicted key's latest row (every winner was
    * emitted when it won), so downstream state is intact — but a
    * LATER-arriving stale row for an evicted key re-enters as a fresh
    * winner (the monotone no-regress guarantee holds per lease, the
    * standard TTL trade).
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`) is the
    * REPLAY-CORRECT lease: eviction follows the DATA's clock, not the
    * wall clock. A watermark is attached over `ts` (epoch-MICROS, the
    * engine's canonical event-time shape) with `watermarkDelay`
    * lateness tolerance, and a key expires when the watermark passes
    * its latest event time + `eventTimeTtl` — so replaying a month of
    * historical backlog in minutes evicts exactly the keys that went
    * quiet for a month of EVENT time (a processing-time lease would
    * evict almost nothing on a fast replay, and conversely would evict
    * live keys mid-stream on a slow one). Live ingest works too (the
    * watermark tracks arriving data); what event-time leases can NOT do
    * is evict while the whole stream is silent — the watermark only
    * advances with data, which is the one case the processing-time
    * lease covers better. Note Spark's EventTimeTimeout contract: input
    * rows older than the current watermark are dropped before reaching
    * the operator (late-data filtering), so `watermarkDelay` bounds how
    * stale a re-entering row can be.
    */
  def latestState(events: Dataset[ObsEvent],
      ttl: Option[String] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[KeyLatest] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    val src = watermarkedInput(events, eventTimeTtl.isDefined, "ts", watermarkDelay)
    val conf =
      if (eventTimeTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else timeoutConf(ttl)
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyLatest, KeyLatest](
        OutputMode.Update(), conf) {
        (uid: Long, rows: Iterator[ObsEvent], state: GroupState[KeyLatest]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption
            val best = (prev.iterator ++
              rows.map(e => KeyLatest(uid, e.ts, e.event_id, e.value)))
              .maxBy(k => (k.ts, k.event_id))
            ttl.foreach(state.setTimeoutDuration) // any traffic renews the lease
            eventTimeTtl.foreach { d =>
              // the lease rides the data's clock: expire when the
              // watermark passes the key's latest EVENT time + ttl
              // (best = max(prev, batch), so the lease never regresses
              // on a late batch)
              state.setTimeoutTimestamp(
                dataClockLeaseMs(best.ts, d, state.getCurrentWatermarkMs()))
            }
            if (prev.contains(best)) Iterator.empty // all-late batch: no churn
            else { state.update(best); Iterator.single(best) }
          }
      }
  }

  final case class CdcChange(
    user_id: Long, ts: Long, event_id: Long, value: Option[Double], op: String)

  /** [[latestState]] as a FULL change feed: upserts when a key's winner
    * changes, and a DELETE tombstone when the key's event-time lease
    * expires — the record shape a compacted-topic / TTL'd-store consumer
    * needs (Kafka compaction tombstones, DynamoDB-TTL delete streams): a
    * downstream materialization that only ever saw upserts would pin
    * every key forever, so expiry must flow THROUGH the feed, not happen
    * silently beside it.
    *
    * Event-time ONLY, by design: a tombstone is data, and data must be
    * replayable — a processing-time lease would emit a different delete
    * set on every run of the same input (the nondeterminism
    * [[latestState]]'s `eventTimeTtl` mode exists to remove). The delete
    * carries the evicted key's last winner (`ts`/`event_id`/`value`)
    * with `op = "delete"`, so consumers can reconcile exactly which
    * version died; upserts carry `op = "upsert"`.
    *
    * Determinism contract (what makes this ORACLE-gateable, the r14
    * verdict's ask): given a fixed micro-batch partitioning of the
    * input, every emission is a pure function of the data —
    *  - the watermark DURING batch k is the max event time of batches
    *    < k minus `watermarkDelay` (ms floor), starting at 0;
    *  - a key's lease after a data batch is
    *    max(latest-event-ts-ms + ttl, watermark + 1) ([[dataClockLeaseMs]]);
    *  - the tombstone fires in the FIRST key-silent batch whose
    *    watermark STRICTLY exceeds the lease (Spark schedules one extra
    *    no-data batch after a bounded backlog when the final data batch
    *    advanced the watermark, so end-of-backlog expiries flush);
    *  - any post-eviction arrival is above the watermark, hence above
    *    the evicted winner + ttl, so it re-enters as a fresh upsert and
    *    the winner sequence equals the delivered prefix max whether or
    *    not an eviction happened — which is what lets a batch SQL
    *    oracle replay the whole feed without simulating state.
    * See the `stream_cdc_et` gate: a DuckDB window query replays
    * upserts AND tombstones exactly, hash-verified.
    *
    * Scale shape: identical to [[latestState]] (one struct per live
    * key); the tombstone branch adds no state, only output. 100 TB
    * backlog replays evict on the DATA's clock at any wall-clock speed.
    */
  def latestStateChanges(events: Dataset[ObsEvent],
      eventTimeTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds"): Dataset[CdcChange] = {
    import events.sparkSession.implicits._
    watermarkedInput(events, armed = true, "ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyLatest, CdcChange](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[ObsEvent], state: GroupState[KeyLatest]) =>
          if (state.hasTimedOut) {
            // the lease expired on the data clock: the eviction IS data —
            // emit the dying winner as a tombstone, then drop the state
            val dead = state.get
            state.remove()
            Iterator.single(CdcChange(uid, dead.ts, dead.event_id, dead.value, "delete"))
          } else {
            val prev = state.getOption
            val best = (prev.iterator ++
              rows.map(e => KeyLatest(uid, e.ts, e.event_id, e.value)))
              .maxBy(k => (k.ts, k.event_id))
            if (!prev.contains(best)) state.update(best) // all-late batch: no churn
            // any traffic re-arms the lease (best is monotone, so a late
            // batch never regresses it); clamped strictly above the
            // watermark, so a just-armed lease can never fire in the
            // same batch's timeout sweep
            state.setTimeoutTimestamp(
              dataClockLeaseMs(best.ts, eventTimeTtl, state.getCurrentWatermarkMs()))
            if (prev.contains(best)) Iterator.empty
            else Iterator.single(CdcChange(uid, best.ts, best.event_id, best.value, "upsert"))
          }
      }
  }

  /** [[latestState]] re-expressed on Spark 4's GA arbitrary-state API
    * (`transformWithState`): the same latest-wins CDC semantics held in
    * a typed `ValueState[KeyLatest]`, with NATIVE per-value TTL
    * (`TTLConfig`) replacing the hand-rolled processing-time lease.
    * What the new API buys at 100 TB: the engine REQUIRES the RocksDB
    * state-store provider (off-heap, changelog-checkpointed — key
    * cardinality bounded by disk, not executor heap), TTL eviction is
    * value-level (an expired value simply reads as absent; the store's
    * maintenance reclaims it — no hasTimedOut branch to write), and the
    * TTL clock re-arms on UPDATE, so an all-late batch that changes
    * nothing also renews nothing (a subtle improvement over the lease,
    * which renewed on any traffic). After expiry a stale row re-enters
    * as a fresh winner — the same per-lease trade, now enforced by the
    * store itself.
    *
    * Time mode: `TimeMode.ProcessingTime` ONLY when a TTL is set (the
    * store requires it for TTL bookkeeping, and it implies the engine
    * schedules its own no-data sweep batches — the [[timeoutConf]]
    * caveats apply, including `processAllAvailable` never returning);
    * `TimeMode.None` otherwise, keeping the no-TTL path free of sweep
    * batches entirely.
    *
    * Session requirement: `spark.sql.streaming.stateStore.providerClass`
    * = `org.apache.spark.sql.execution.streaming.state
    * .RocksDBStateStoreProvider` — on the HDFS-backed provider the
    * query fails at its first batch with UNSUPPORTED_FEATURE.
    * STATE_STORE_MULTIPLE_COLUMN_FAMILIES (transformWithState stores
    * each state variable in its own column family, which only RocksDB
    * supports). Scope it with [[withRocksDbProvider]].
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`) is the
    * replay-correct lease on this tier: `TimeMode.EventTime` with a
    * real per-key EVENT-TIME timer re-armed to the key's latest event
    * time + ttl on every update — when the watermark (attached over
    * `ts` epoch-micros with `watermarkDelay` tolerance) passes it, the
    * timer fires and the key's state is cleared. Same
    * data-clock-vs-wall-clock trade as [[latestState]]'s eventTimeTtl
    * (and the same caveat: a totally silent stream never advances the
    * watermark, so nothing expires until data flows again).
    */
  def latestStateTws(events: Dataset[ObsEvent],
      ttl: Option[java.time.Duration] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[KeyLatest] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val src = watermarkedInput(events, eventTimeTtl.isDefined, "ts", watermarkDelay)
    src.groupByKey(_.user_id)
      .transformWithState(
        new LatestStateProcessor(ttl, eventTimeTtl),
        if (eventTimeTtl.isDefined) TimeMode.EventTime()
        else if (ttl.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Update())
  }

  /** Processor backing [[latestStateTws]]: one [[KeyLatest]] value per
    * key, updated only when the (ts, event_id) winner actually changes
    * (the churn-free upsert-feed contract of the legacy op, verbatim).
    * With `eventTtl`, an event-time flush timer is re-armed per update;
    * firing clears the key's state (CDC eviction emits nothing — the
    * sink already holds every winner).
    */
  private[streaming] class LatestStateProcessor(
      ttl: Option[java.time.Duration],
      eventTtl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ObsEvent, KeyLatest] {
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[KeyLatest] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      latest = getHandle.getValueState[KeyLatest]("latest",
        org.apache.spark.sql.Encoders.product[KeyLatest], cfg)
    }
    override def handleInputRows(uid: Long, rows: Iterator[ObsEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KeyLatest] = {
      val prev = if (latest.exists()) Some(latest.get()) else None
      val best = (prev.iterator ++
        rows.map(e => KeyLatest(uid, e.ts, e.event_id, e.value)))
        .maxBy(k => (k.ts, k.event_id))
      eventTtl.foreach { d =>
        // re-arm the data-clock lease: at most one live timer per key
        // (materialize before deleting — the EpisodeProcessor rule;
        // best = max(prev, batch), so the lease never regresses)
        getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(
          dataClockLeaseMs(best.ts, d, timerValues.getCurrentWatermarkInMs()))
      }
      if (prev.contains(best)) Iterator.empty // all-late batch: no churn
      else { latest.update(best); Iterator.single(best) }
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[KeyLatest] = {
      latest.clear() // eviction, not data: the sink holds every winner
      Iterator.empty
    }
  }

  /** [[latestStateChanges]] on the arbitrary-state API: the same full
    * change feed — upserts when a key's winner changes, a DELETE
    * tombstone when the key's event-time lease expires — with the
    * tombstone emitted from a REAL per-key event-time timer
    * (`handleExpiredTimer`) on the required RocksDB provider. Timers
    * are the right primitive for this op on this tier (the same
    * argument as [[episodeStateTws]]): expiry produces OUTPUT — the
    * dying winner flows through the feed — so value TTL (which reads
    * the expired value as silently absent) would drop the tombstone,
    * and [[latestStateTws]]'s timer-CLEARS mode deliberately emits
    * nothing because its sink contract needs no tombstones.
    *
    * Event-time only, same reason as the legacy op: a tombstone is
    * data and data must be replayable. Same determinism contract and
    * [[dataClockLeaseMs]] arithmetic, so the same batch-SQL oracle
    * replays this feed (see `stream_cdc_et_tws`: the TWS timer-EMITS-
    * tombstone path hash-verified against the `stream_cdc_et` oracle).
    * Same scale shape as [[latestStateTws]]: one struct + one live
    * timer per key, key cardinality bounded by the lease on the data's
    * clock.
    */
  def latestStateChangesTws(events: Dataset[ObsEvent],
      eventTimeTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds",
      outputMode: OutputMode = OutputMode.Update()): Dataset[CdcChange] = {
    // `outputMode` is the OPERATOR mode TWS validates against the
    // query's: Update for the memory-sink gates; Append when the feed
    // drains through the fault-tolerant FILE sink (the checkpoint-
    // restart harness) — semantically faithful either way, since every
    // emitted row is an append-only change RECORD (a changelog into a
    // log sink is the production CDC shape), never a retraction of a
    // previously-emitted sink row.
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    watermarkedInput(events, armed = true, "ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(
        new LatestChangesProcessor(eventTimeTtl),
        TimeMode.EventTime(),
        outputMode)
  }

  /** Processor backing [[latestStateChangesTws]]: one [[KeyLatest]]
    * value per key, churn-free upserts (emit only when the (ts,
    * event_id) winner changes — the [[LatestStateProcessor]] contract
    * verbatim), and an event-time timer re-armed on every batch to the
    * key's monotone latest event time + ttl; firing emits the dying
    * winner as a tombstone and clears the state.
    */
  private[streaming] class LatestChangesProcessor(
      eventTtl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ObsEvent, CdcChange] {
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[KeyLatest] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      latest = getHandle.getValueState[KeyLatest]("latest",
        org.apache.spark.sql.Encoders.product[KeyLatest],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[ObsEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcChange] = {
      val prev = if (latest.exists()) Some(latest.get()) else None
      val best = (prev.iterator ++
        rows.map(e => KeyLatest(uid, e.ts, e.event_id, e.value)))
        .maxBy(k => (k.ts, k.event_id))
      // re-arm the data-clock lease: at most one live timer per key
      // (materialize before deleting — the EpisodeProcessor rule; best =
      // max(prev, batch), so the lease never regresses on a late batch)
      getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        dataClockLeaseMs(best.ts, eventTtl, timerValues.getCurrentWatermarkInMs()))
      if (prev.contains(best)) Iterator.empty // all-late batch: no churn
      else {
        latest.update(best)
        Iterator.single(CdcChange(uid, best.ts, best.event_id, best.value, "upsert"))
      }
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CdcChange] = {
      // the lease expired on the data clock: the eviction IS data —
      // emit the dying winner as a tombstone, then drop the state.
      // exists() guard: handleInputRows keeps state and timer in
      // lockstep (one live timer per key, always alongside state), but
      // a stale provider-delivered timer for a cleared key must no-op,
      // not throw inside the query (r16 ADVICE).
      if (!latest.exists()) Iterator.empty
      else {
        val dead = latest.get()
        latest.clear()
        Iterator.single(CdcChange(uid, dead.ts, dead.event_id, dead.value, "delete"))
      }
    }
  }

  final case class BandDoc(band_idx: Int, band_hash: Long, doc_id: Long)
  final case class CandPair(id_a: Long, id_b: Long)

  /** Exactly-once pair emission shared by every streaming LSH bucket
    * variant (legacy, event-time, TWS): each FRESH member pairs once
    * with every already-SEEN member and once with every later fresh
    * member. Pairs are normalized `id_a < id_b`; `fresh` must be
    * sorted ascending so fresh×fresh pairs are ordered by construction.
    * Materializes before returning (C(k,2)-bounded, the hot-bucket
    * caveat documented on the ops) so callers may update state after.
    */
  private def emitNewPairs(seen: Array[Long], fresh: Array[Long]): Iterator[CandPair] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
    var i = 0
    while (i < fresh.length) {
      val a = fresh(i)
      var j = 0
      while (j < seen.length) {
        val b = seen(j)
        out += (if (a < b) CandPair(a, b) else CandPair(b, a))
        j += 1
      }
      var k = i + 1
      while (k < fresh.length) {
        out += CandPair(a, fresh(k)) // fresh is sorted: a < fresh(k)
        k += 1
      }
      i += 1
    }
    out.iterator
  }

  /** Streaming MinHash-LSH near-dup CANDIDATE detection — the streaming
    * twin of [[graft.ops.Dedup.lshCandidates]]: each arriving document's
    * text runs the same shingle→minhash→band kernel chain
    * ([[graft.functions.shingle_hash_set]] → signature →
    * [[graft.functions.band_hashes]], identical constants), explodes to
    * (band_idx, band_hash) bucket keys, and probes a per-bucket state of
    * every doc id seen in that bucket so far: a new doc emits one
    * candidate pair per bucket-mate (id_a < id_b normalized; cross-batch
    * mates come from state, same-batch mates from the group iterator,
    * id-sorted so emission is arrival-order-independent). Downstream, a
    * batch-side [[graft.ops.Dedup.verifyJaccard]] over the streamed
    * candidate set completes the operator — candidates stream with
    * bounded latency; exact verification is the cheap follow-up join
    * (the candidate set is tiny relative to the corpus).
    *
    * State shape: per (band, hash) bucket, the id array of its members —
    * total state = the banded index itself (n·Bands entries corpus-wide,
    * the same footprint the batch self-join shuffles). A hot bucket (a
    * boilerplate band shared corpus-wide) concentrates both state and
    * C(k,2) emission on one key — the same hot-bucket caveat as batch
    * LSH, and `bucketTtl` ([[timeoutConf]]) bounds BOTH axes: a bucket
    * with no arrivals for the lease duration is dropped at the next
    * trigger, so total state tracks the ACTIVE corpus window (n·Bands
    * over recent docs) instead of everything ever ingested, and a
    * boilerplate bucket can only accumulate members for one lease.
    * Semantics under eviction: docs arriving after a bucket expired
    * don't pair with its forgotten members — TTL'd near-dup detection
    * is WINDOWED detection (pairs within a lease of each other), the
    * standard production trade; run the batch op over the lake for the
    * full-history sweep. Pairs are emitted exactly once (each doc is
    * added to state once; re-deliveries of a known id emit nothing),
    * but two docs sharing SEVERAL bands emit once per shared band — run
    * `.distinct()` on the sink like the batch op does.
    */
  def neardupCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bucketTtl: Option[String] = None): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    import graft.ops.Dedup
    val bands = docs.filter(col(idCol).isNotNull)
      .select(
        posexplode(graft.functions.band_hashes(
          Dedup.minhashSignature(
            graft.functions.shingle_hash_set(col(textCol), n)),
          Dedup.Bands, Dedup.RowsPerBand)).as(Seq("band_idx", "band_hash")),
        col(idCol).cast("long").as("doc_id"))
      .select("band_idx", "band_hash", "doc_id")
      .as[BandDoc]
    bands.groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState[Array[Long], CandPair](
        OutputMode.Append, timeoutConf(bucketTtl)) {
        (_: (Int, Long), rows: Iterator[BandDoc],
         state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(Array.empty[Long])
            val fresh = rows.map(_.doc_id).toArray.distinct.sorted
              .filterNot(seen.contains)
            val out = emitNewPairs(seen, fresh)
            if (fresh.nonEmpty) state.update(seen ++ fresh)
            bucketTtl.foreach(state.setTimeoutDuration) // arrivals renew the lease
            out
          }
      }
  }

  final case class TsBandDoc(band_idx: Int, band_hash: Long, doc_id: Long, ts: Long)

  /** [[neardupCandidates]] with the bucket lease on the DATA's clock —
    * the r14 event-time argument applied to LSH state: `bucketTtl`
    * (processing time) makes a fast backlog replay keep every bucket
    * ever seen (state = the full-history index — exactly the balloon the
    * lease exists to prevent) and a stalled stream drop LIVE buckets;
    * this variant watermarks the docs' `tsCol` (epoch-MICROS) and
    * expires a bucket when the watermark passes its latest member's
    * event time + `eventTimeTtl`, so "pairs within a lease of each
    * other" is measured in EVENT time — replay a year of corpus history
    * in an hour and the candidate set is the same one the live stream
    * would have produced, which is the property that makes windowed
    * near-dup detection auditable at all ([[latestState]]'s eventTimeTtl
    * caveats apply: a silent stream never advances the watermark, and
    * rows older than the watermark are dropped before the operator).
    *
    * Separate method (not a param on [[neardupCandidates]]) because the
    * input row gains a field: the bucket lease needs each doc's ts, so
    * the banded explode carries [[TsBandDoc]] and the state adds the
    * bucket's monotone latest event time — a late batch can regress
    * neither the member set nor the lease.
    */
  def neardupCandidatesEventTime(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      eventTimeTtl: java.time.Duration,
      n: Int = 3, watermarkDelay: String = "0 seconds"): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    import graft.ops.Dedup
    val bands = docs.filter(col(idCol).isNotNull && col(tsCol).isNotNull)
      .select(
        posexplode(graft.functions.band_hashes(
          Dedup.minhashSignature(
            graft.functions.shingle_hash_set(col(textCol), n)),
          Dedup.Bands, Dedup.RowsPerBand)).as(Seq("band_idx", "band_hash")),
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("long").as("ts"))
      .select("band_idx", "band_hash", "doc_id", "ts")
      .as[TsBandDoc]
    watermarkedInput(bands, armed = true, "ts", watermarkDelay)
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState[(Array[Long], Long), CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[TsBandDoc],
         state: GroupState[(Array[Long], Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (seen, maxTs0) = state.getOption.getOrElse((Array.empty[Long], Long.MinValue))
            val batch = rows.toArray
            val fresh = batch.map(_.doc_id).distinct.sorted.filterNot(seen.contains)
            val out = emitNewPairs(seen, fresh)
            // the lease rides the bucket's MONOTONE latest event time, so
            // a late batch never regresses it; re-deliveries of known ids
            // still renew (they are bucket traffic on the data clock)
            val maxTs = math.max(maxTs0, batch.map(_.ts).max)
            state.update((seen ++ fresh, maxTs))
            state.setTimeoutTimestamp(
              dataClockLeaseMs(maxTs, eventTimeTtl, state.getCurrentWatermarkMs()))
            out
          }
      }
  }

  /** [[neardupCandidates]] on the arbitrary-state API: bucket members
    * live in a `ListState[Long]` — the structurally RIGHT store for an
    * append-only member set. The legacy op rewrites the WHOLE member
    * array on every update (`state.update(seen ++ fresh)` — O(|bucket|)
    * serialization per arrival, Σi ≈ k²/2 state bytes over a hot
    * bucket's lifetime); `ListState.appendList` writes O(|fresh|), k
    * total. (Pair EMISSION stays C(k,2) in both forms by construction —
    * the hot-bucket caveat and its TTL/salting levers are unchanged;
    * what the list store removes is the state-write amplification on
    * top of it.) With `memberTtl`, TTL applies PER ELEMENT: each member
    * expires `ttl` after ITS OWN insertion (finer than the legacy
    * whole-bucket lease, which a busy bucket renews forever) — windowed
    * detection where "window" means each doc pairs with docs ingested
    * at most one TTL before it. Same exactly-once pair emission and
    * RocksDB-provider requirement as the other TWS ops; same
    * `.distinct()` per-shared-band note as the legacy op.
    */
  def neardupCandidatesTws(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3,
      memberTtl: Option[java.time.Duration] = None): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    import graft.ops.Dedup
    val bands = docs.filter(col(idCol).isNotNull)
      .select(
        posexplode(graft.functions.band_hashes(
          Dedup.minhashSignature(
            graft.functions.shingle_hash_set(col(textCol), n)),
          Dedup.Bands, Dedup.RowsPerBand)).as(Seq("band_idx", "band_hash")),
        col(idCol).cast("long").as("doc_id"))
      .select("band_idx", "band_hash", "doc_id")
      .as[BandDoc]
    bands.groupByKey(b => (b.band_idx, b.band_hash))
      .transformWithState(new BucketPairProcessor(memberTtl),
        if (memberTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Processor backing [[neardupCandidatesTws]]: per bucket, the
    * member-id list; a fresh doc pairs with every live member, then
    * appends (never rewrites) the list.
    */
  private[streaming] class BucketPairProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandDoc, CandPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      members = getHandle.getListState[Long]("members",
        org.apache.spark.sql.Encoders.scalaLong, cfg)
    }
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CandPair] = {
      val seen = members.get().toArray // expired elements already absent
      val fresh = rows.map(_.doc_id).toArray.distinct.sorted
        .filterNot(seen.contains)
      val out = emitNewPairs(seen, fresh)
      if (fresh.nonEmpty) members.appendList(fresh)
      out
    }
  }

  /** [[locfEnrich]] on the arbitrary-state API: the per-key carry in a
    * typed `ValueState[Double]` on the REQUIRED RocksDB provider, with
    * native `TTLConfig` expiry replacing the hand-rolled lease. Same
    * determinism contract as the legacy op (the (key, batch) group is
    * sorted by `(ts, event_id)` before the carry folds). Value TTL is
    * the structurally right expiry here: an expired carry simply READS
    * AS ABSENT, so the next event after a long silence starts from
    * "nothing observed" — exactly the legacy `ttl` semantics, with the
    * store doing the bookkeeping. The carry is (re)written on every
    * batch that has one, so traffic renews the TTL like the legacy
    * lease; a carry-less key writes nothing (the "state lives only
    * while there is something to remember" contract).
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`): the replay-correct
    * lease on this tier — `TimeMode.EventTime` per-key timers instead
    * of the wall-clock value TTL (TTLConfig is processing-time-only by
    * construction). The timer re-arms to max(existing timer, key's
    * batch-max event time + ttl), which — with a constant ttl — IS the
    * key's latest event time lease, so a late batch never regresses
    * it; firing clears the carry. The carry itself follows the
    * [[locfFoldOrdered]] order-correct contract (its own "carry_et"
    * state retains the source (ts, event_id), so a late observation
    * never overrides a newer carry). Same data-clock trade as
    * [[locfEnrich]]'s eventTimeTtl. Checkpoints are NOT portable
    * across modes or across the r14 order-correct upgrade of the
    * event-time layout ("carry" → "carry_et"): a pre-upgrade
    * event-time checkpoint's carries live in a column family the
    * upgraded processor never registers and would silently read as
    * absent — restart event-time queries from a fresh checkpoint.
    */
  def locfEnrichTws(events: Dataset[ObsEvent],
      ttl: Option[java.time.Duration] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[ObsCarry] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val src = watermarkedInput(events, eventTimeTtl.isDefined, "ts", watermarkDelay)
    src.groupByKey(_.user_id)
      .transformWithState(new LocfProcessor(ttl, eventTimeTtl),
        if (eventTimeTtl.isDefined) TimeMode.EventTime()
        else if (ttl.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
  }

  /** Processor backing [[locfEnrichTws]]: one carry per key. The legacy
    * modes keep the original `ValueState[Double]` ("carry",
    * checkpoint-compatible); the event-time mode uses its own
    * `ValueState[(Double, Long, Long)]` ("carry_et" — value + source
    * (ts, event_id)) so the [[locfFoldOrdered]] order-correct contract
    * holds: a late observation never overrides a newer carry. A
    * data-clock timer guards the carry; firing clears it (eviction,
    * not data — every emitted row already carried its value
    * downstream); max-with-existing keeps the lease riding the key's
    * monotone latest event time across late batches.
    */
  private[streaming] class LocfProcessor(ttl: Option[java.time.Duration],
      eventTtl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ObsEvent, ObsCarry] {
    @transient private var carryState: org.apache.spark.sql.streaming.ValueState[Double] = _
    @transient private var carryEt:
      org.apache.spark.sql.streaming.ValueState[(Double, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      if (eventTtl.isDefined)
        carryEt = getHandle.getValueState[(Double, Long, Long)]("carry_et",
          org.apache.spark.sql.Encoders.product[(Double, Long, Long)],
          org.apache.spark.sql.streaming.TTLConfig.NONE)
      else {
        val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
        carryState = getHandle.getValueState[Double]("carry",
          org.apache.spark.sql.Encoders.scalaDouble, cfg)
      }
    }
    override def handleInputRows(uid: Long, rows: Iterator[ObsEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ObsCarry] = {
      eventTtl match {
        case Some(d) =>
          val carry0 = if (carryEt.exists()) Some(carryEt.get()) else None
          val (out, carry, batchMaxTs) = locfFoldOrdered(uid, rows, carry0)
          carry.foreach(carryEt.update)
          if (carryEt.exists()) {
            val existing = getHandle.listTimers().toSeq
            existing.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(math.max(
              existing.foldLeft(Long.MinValue)(math.max),
              dataClockLeaseMs(batchMaxTs, d,
                timerValues.getCurrentWatermarkInMs())))
          }
          out.iterator
        case None =>
          val carry0 = if (carryState.exists()) Some(carryState.get()) else None
          val (out, carry) = locfFoldLegacy(uid, rows, carry0)
          carry.foreach(carryState.update) // rewrite renews the value TTL
          out.iterator
      }
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ObsCarry] = {
      carryEt.clear() // eviction, not data
      Iterator.empty
    }
  }

  /** [[transitionsStateful]] on the arbitrary-state API: the
    * previous-event marker in a typed `ValueState` on RocksDB, native
    * `TTLConfig` expiry. An expired marker reads as absent, so the
    * first event after a long silence starts a fresh chain — the legacy
    * `ttl` semantics, store-enforced. Same `(ts, event_id)` in-batch
    * sort and cross-batch monotonicity contract as the legacy op.
    *
    * `eventTimeTtl` (mutually exclusive with `ttl`): the replay-correct
    * lease — `TimeMode.EventTime` per-key timers riding the MARKER's
    * event time (the thing being forgotten, consistent with the legacy
    * op's marker semantics); firing clears the marker so the next event
    * starts a fresh chain at the data's silences, not the cluster's.
    */
  def transitionsStatefulTws(events: Dataset[TypedEvent],
      ttl: Option[java.time.Duration] = None,
      eventTimeTtl: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[Transition] = {
    require(ttl.isEmpty || eventTimeTtl.isEmpty,
      "ttl (processing-time) and eventTimeTtl (watermark-driven) are mutually exclusive")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val src = watermarkedInput(events, eventTimeTtl.isDefined, "ts", watermarkDelay)
    src.groupByKey(_.user_id)
      .transformWithState(new TransitionsProcessor(ttl, eventTimeTtl),
        if (eventTimeTtl.isDefined) TimeMode.EventTime()
        else if (ttl.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
  }

  /** Processor backing [[transitionsStatefulTws]]: one (ts, event_id,
    * type) marker per key. With `eventTtl`, a data-clock timer guards
    * the marker; firing clears it (a fresh chain, not data loss).
    */
  private[streaming] class TransitionsProcessor(ttl: Option[java.time.Duration],
      eventTtl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, Transition] {
    @transient private var prevState:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, String)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      prevState = getHandle.getValueState[(Long, Long, String)]("prev",
        org.apache.spark.sql.Encoders.product[(Long, Long, String)], cfg)
    }
    override def handleInputRows(uid: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Transition] = {
      val marker0 = if (prevState.exists()) Some(prevState.get()) else None
      val (out, marker) = transitionsFoldOrdered(uid, rows, marker0)
      marker.foreach(prevState.update) // rewrite renews the value TTL
      eventTtl.foreach { d =>
        // data-clock lease riding the marker's event time — which is the
        // key's MONOTONE latest event time (the fold takes max(stored,
        // batch)), so a late batch never regresses the lease; at most
        // one live timer per key
        marker.foreach { case (ts, _, _) =>
          getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(
            dataClockLeaseMs(ts, d, timerValues.getCurrentWatermarkInMs()))
        }
      }
      out.iterator
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Transition] = {
      prevState.clear() // a fresh chain, not data loss
      Iterator.empty
    }
  }

  /** [[episodeState]] on the arbitrary-state API, with the idle-key
    * flush driven by REAL per-key TIMERS (`registerTimer` /
    * `handleExpiredTimer`) instead of the legacy timeout lease: every
    * batch that touches a key re-arms its flush timer to now +
    * `idleFlush`; when the timer fires, the open episode is EMITTED
    * and the key's state cleared — the episode always reaches the
    * sink. Timers are the right primitive here because expiry produces
    * OUTPUT (value TTL would silently drop the open episode — data
    * loss, not cleanup). No `idleFlush` → `TimeMode.None`, no timers,
    * exact legacy semantics.
    *
    * `eventTimeIdleFlush` (mutually exclusive with `idleFlush`) is the
    * replay-correct form — event-time sessionization via
    * `TimeMode.EventTime` per-key timers: each batch re-arms the key's
    * flush timer to the open episode's reach + idle gap, and when the
    * watermark (attached over `ive` epoch-micros with `watermarkDelay`
    * tolerance) passes it, the timer fires and the episode is emitted.
    * Same data-clock-vs-wall-clock trade as [[episodeState]]'s
    * eventTimeIdleFlush, and the same [[requireFlushExceedsGap]]
    * contract.
    */
  def episodeStateTws(iv: Dataset[IntervalRow], gap: Long,
      idleFlush: Option[java.time.Duration] = None,
      eventTimeIdleFlush: Option[java.time.Duration] = None,
      watermarkDelay: String = "0 seconds"): Dataset[Episode] = {
    require(gap >= 0, s"gap must be non-negative: $gap")
    require(idleFlush.isEmpty || eventTimeIdleFlush.isEmpty,
      "idleFlush (processing-time) and eventTimeIdleFlush (watermark-driven) are mutually exclusive")
    requireFlushExceedsGap(eventTimeIdleFlush, gap)
    import iv.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val src = watermarkedInput(iv, eventTimeIdleFlush.isDefined, "ive", watermarkDelay)
    src.groupByKey(_.user_id)
      .transformWithState(new EpisodeProcessor(gap, idleFlush, eventTimeIdleFlush),
        if (eventTimeIdleFlush.isDefined) TimeMode.EventTime()
        else if (idleFlush.isDefined) TimeMode.ProcessingTime()
        else TimeMode.None(),
        OutputMode.Append())
  }

  /** Processor backing [[episodeStateTws]]: one open (start, reach, n)
    * per key; arriving intervals extend or close it; the per-key timer
    * flushes it after `idleFlush` of silence.
    */
  private[streaming] class EpisodeProcessor(gap: Long,
      idleFlush: Option[java.time.Duration],
      eventIdleFlush: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, IntervalRow, Episode] {
    @transient private var cur: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // TTLConfig.NONE deliberately: expiry must FLUSH (emit), which
      // only a timer can do — a value TTL would drop the episode
      cur = getHandle.getValueState[(Long, Long, Long)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[IntervalRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Episode] = {
      var open: Option[(Long, Long, Long)] = if (cur.exists()) Some(cur.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[Episode]
      rows.toIndexedSeq.filter(r => r.ive >= r.ivs)
        .sortBy(r => (r.ivs, r.ive)).foreach { r =>
          open match {
            case Some((ms, me, n)) if r.ivs <= me + gap =>
              open = Some((ms, math.max(me, r.ive), n + 1L))
            case Some((ms, me, n)) =>
              out += Episode(uid, ms, me, n)
              open = Some((r.ivs, r.ive, 1L))
            case None =>
              open = Some((r.ivs, r.ive, 1L))
          }
        }
      open.foreach(cur.update)
      idleFlush.foreach { d =>
        // re-arm: at most one live flush timer per key. Materialize the
        // listing before deleting — mutating a state store while
        // iterating it is provider-implementation-dependent behavior
        getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(
          timerValues.getCurrentProcessingTimeInMs() + d.toMillis)
      }
      eventIdleFlush.foreach { d =>
        // the data-clock twin: flush when the watermark passes the open
        // episode's reach + idle gap (the reach is monotone per key, so
        // the lease never regresses). Arm only when an episode is open.
        open.foreach { case (_, me, _) =>
          getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(
            dataClockLeaseMs(me, d, timerValues.getCurrentWatermarkInMs()))
        }
      }
      out.iterator
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Episode] = {
      if (cur.exists()) {
        val (ms, me, n) = cur.get()
        cur.clear()
        Iterator.single(Episode(uid, ms, me, n))
      } else Iterator.empty
    }
  }

  /** Scope the RocksDB state-store provider (required by every
    * `transformWithState` op) to `body`, restoring the session's prior
    * provider after — so a mixed pipeline can run legacy
    * flatMapGroupsWithState streams on the default provider and TWS
    * streams on RocksDB from one session. The conf is read at QUERY
    * START, so wrap the `start()` call (runToMemory / writeStream),
    * not the transform construction.
    */
  def withRocksDbProvider[T](spark: SparkSession)(body: => T): T =
    // changelog checkpointing is a session conf, set in graft.Bench.session
    withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run `body` with the session confs `kvs` set, then restore each one's
    * prior value (or unset it).
    */
  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark plans every stateful micro-batch without AQE whatever the
    * session says, and logs at start that AQE is unsupported in streaming
    * whenever the session has it on. Starting with it off drops that WARN;
    * stateless micro-batches, which Spark 4.1 would run with AQE, then
    * plan without it too.
    */
  private val NoAqe = "spark.sql.adaptive.enabled" -> "false"

  /** Stage a bounded frame as a DETERMINISTIC event-time backlog replay:
    * one parquet file per non-empty `bucketUs` bucket of `microsCol`,
    * modification times ascending in bucket order, so a file-source
    * stream with `maxFilesPerTrigger = 1` (the source processes oldest
    * mtime first) delivers exactly one ts bucket per micro-batch, in
    * event-time order. This pins the ONE free variable in event-time
    * streaming semantics — the micro-batch partitioning — which makes
    * every watermark value, lease arming, and timer firing a pure
    * function of the data: the property the `stream_*_et` oracle gates
    * need to hash-compare an eviction-exercising run against a batch
    * SQL replay, and the property a checkpoint-restart equivalence test
    * needs to be meaningful.
    *
    * Test/replay harness by design, not a production writer: a real
    * 100 TB backfill already HAS event-time-ordered files (the lake's
    * date partitions) — there you stream the lake directly and
    * `maxFilesPerTrigger` bounds batch size. The single-task write here
    * (one writer so file count = bucket count, and mtimes can be
    * assigned in order) is sized for replaying fixtures and samples,
    * and refuses data above a safety cap rather than silently becoming
    * a driver bottleneck.
    *
    * Returns the chunk directory; read it back with
    * `spark.readStream.schema(...).option("maxFilesPerTrigger", 1)
    * .parquet(dir)` under `Trigger.AvailableNow()` (one listing, every
    * chunk its own batch).
    */
  def stageEventTimeReplay(df: DataFrame, microsCol: String,
      bucketUs: Long, maxRows: Long = 10_000_000L): String = {
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    val n = df.count()
    require(n <= maxRows,
      s"stageEventTimeReplay is a single-writer replay harness: $n rows " +
        s"exceeds the $maxRows cap — stream the source directly instead")
    val root = graft.TempRoots.create("graft_replay")
    val byBucket = root.resolve("by_bucket").toString
    df.withColumn("__b",
        org.apache.spark.sql.functions.expr(s"CAST(`$microsCol` DIV $bucketUs AS LONG)"))
      .repartition(1)
      .sortWithinPartitions("__b")
      .write.mode("overwrite").partitionBy("__b").parquet(byBucket)
    val out = root.resolve("chunks").toFile
    out.mkdirs()
    val dirs = new java.io.File(byBucket).listFiles()
      .filter(_.getName.startsWith("__b="))
    // a null event time would land in __b=__HIVE_DEFAULT_PARTITION__ and
    // has no place in an event-time replay — fail with the contract, not
    // a NumberFormatException out of a directory-name parse
    require(!dirs.exists(_.getName.contains("HIVE_DEFAULT_PARTITION")),
      s"stageEventTimeReplay: `$microsCol` contains nulls — an event-time " +
        "replay has no bucket for a row without an event time; filter them first")
    val ordered = dirs.sortBy(_.getName.stripPrefix("__b=").toLong)
    ordered.zipWithIndex.foreach { case (d, i) =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"expected one file per bucket from the single-task write, got " +
          s"${parts.length} under ${d.getName}")
      val dst = new java.io.File(out, f"chunk-$i%05d.parquet")
      java.nio.file.Files.move(parts.head.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // strictly ascending, minute-spaced mtimes: the file source orders
      // by modification time, and coarse-mtime filesystems must not tie —
      // a filesystem that refuses the assignment would silently break the
      // deterministic batch order every _et gate depends on, so fail loud
      require(dst.setLastModified(1_700_000_000_000L + i.toLong * 60_000L),
        s"stageEventTimeReplay: could not set mtime on $dst — replay order " +
          "would be nondeterministic on this filesystem")
    }
    // the emptied staging tree is dead weight once the chunks are moved;
    // the chunks themselves must outlive this call (memoized per JVM and
    // re-read every bench pass), so the root stays enrolled in
    // [[graft.TempRoots]] and is reaped at JVM exit
    graft.TempRoots.deleteRecursively(new java.io.File(byBucket))
    out.toString
  }

  /** Drain a staged event-time replay through `transform` with a REAL
    * checkpoint restart in the middle: phase 1 exposes only the first
    * `splitAt` chunk files, runs the query under `Trigger.AvailableNow`
    * to self-termination (the checkpoint now holds the watermark, the
    * state store, and every armed timer), then the remaining days
    * "arrive" and a NEW query incarnation resumes from the SAME
    * checkpoint and drains them. The sink is the fault-tolerant FILE
    * sink (exactly-once via its commit log — the memory sink the other
    * gates use does not survive a restart), so the read-back is the
    * committed output of both incarnations with no duplicates.
    *
    * Event-time determinism across the seam: the watermark sequence is
    * a pure function of the per-day batches (one file per trigger),
    * and restart resumes from the checkpointed watermark — so timers
    * fire at the same watermark values as in a single run, and the
    * drained output must hash-match the same batch-SQL oracle. That
    * equivalence is exactly what this harness exists to gate
    * (`stream_*_restart`): a state/timer/watermark field missing from
    * the checkpoint, or replayed wrong on recovery, diverges the
    * output.
    *
    * `transform` must be Append-mode expressible (the file sink's
    * contract). `statePartitions` is baked into the checkpoint at the
    * first micro-batch, as in [[runToMemory]].
    */
  def drainWithCheckpointRestart(
      spark: SparkSession, chunksDir: String,
      schema: org.apache.spark.sql.types.StructType,
      statePartitions: Int, splitAt: Int = -1)
      (transform: DataFrame => DataFrame): DataFrame = {
    val chunkFiles = new java.io.File(chunksDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val split = if (splitAt > 0) splitAt else chunkFiles.length / 2
    require(split > 0 && split < chunkFiles.length,
      s"need a two-phase split: $split of ${chunkFiles.length} chunks")
    val root = graft.TempRoots.create("graft_restart")
    val src = root.resolve("src").toFile
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    src.mkdirs()
    def arrive(files: Seq[java.io.File]): Unit = files.foreach { f =>
      val dst = new java.io.File(src, f.getName)
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      // keep the staged ascending mtimes so the file source's
      // oldest-first ordering (one day per trigger) survives the copy
      require(dst.setLastModified(f.lastModified),
        s"could not preserve mtime on $dst")
    }
    withConfs(spark, NoAqe, "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      def incarnation(): Unit = {
        val q = transform(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src.toString))
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // stopping a query that already ended cancels a job group with no
        // jobs, which the scheduler logs as a WARN
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      arrive(chunkFiles.take(split))
      incarnation() // phase 1: partial backlog, then the query DIES
      arrive(chunkFiles.drop(split))
      incarnation() // phase 2: recovery from the checkpoint
    }
    spark.read.schema(transform(
      spark.readStream.schema(schema).parquet(src.toString)).schema)
      .parquet(out)
  }

  /** Suffixes [[runToMemory]]'s query names apart. */
  private val memorySinks = new java.util.concurrent.atomic.AtomicLong()

  /** Convenience: run a streaming DataFrame to an in-memory table until
    * all currently-available data is processed; returns the result. Used
    * by tests and smoke checks (not a production sink).
    *
    * The query is named `label` plus a unique suffix, so two runs of one
    * label never share a sink. The memory sink registers a temporary view
    * of that name holding every output row; the returned frame is
    * resolved first, then the view is dropped, so the rows live only as
    * long as the frame does.
    *
    * `statePartitions`: state-store instance count for stateful streams —
    * baked into the checkpoint at the FIRST micro-batch from
    * `spark.sql.shuffle.partitions`, so it must be chosen at start, not
    * inherited by accident. Size it to expected state volume: a local
    * run-to-completion wants a handful (per-batch overhead is per
    * instance: delta file + snapshot + maintenance each); a 100 TB
    * production stream wants hundreds. None = session setting.
    */
  def runToMemory(df: DataFrame, label: String,
      outputMode: OutputMode = OutputMode.Append(),
      statePartitions: Option[Int] = None,
      availableNow: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val name = s"${label}_${memorySinks.incrementAndGet()}"
    withConfs(spark, NoAqe +:
        statePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString).toSeq: _*) {
      val w = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
      // AvailableNow: plan the WHOLE backlog from one source listing,
      // drain it in maxFilesPerTrigger-bounded batches, self-terminate.
      // The default trigger instead re-lists the source per micro-batch —
      // over a 5k-file directory that listing dominates the run, and over
      // a 100 TB lake backfill it is the difference between one metadata
      // pass and one per batch. Semantics are identical for a bounded
      // input (same batches, same results); keep the default for the
      // MemoryStream-fed gates, which have no listing to amortize.
      val q = (if (availableNow)
          w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        else w).start()
      try {
        if (availableNow) q.awaitTermination() else q.processAllAvailable()
      } finally if (q.isActive) q.stop()
    }
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }
}
