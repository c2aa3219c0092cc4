package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.{Dump, Gate}
import graft.SparkEntry.{events, eventsReadSchema, normalizeEventTs, t, verifySfDir}
import Streams.{IntervalRow, ObsEvent, TypedEvent}

/** The Structured Streaming registry gates (§7.6), each Spark body next
  * to its DuckDB oracle, with the streaming reads and staged replays they
  * share and the band dump the `stream_neardup_et` oracle replays.
  *
  * A legacy stateful gate and its transformWithState twin (`_tws`) answer
  * one question on two state backends, so each pair is ONE body over the
  * state operator ([[twins]]): the twin starts its query on the RocksDB
  * provider and is checked against the base record's oracle.
  */
object StreamGates {

  private type Run = (SparkSession, String) => DataFrame

  // ---- streaming reads -------------------------------------------------

  /** Canonical streaming events read — the same `ts` unit resolution as
    * [[graft.SparkEntry.events]]. The streaming file source demands a
    * directory basePath, so it lists the sf directory glob-filtered to
    * `events.parquet`.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(
      spark.readStream.schema(eventsReadSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet").parquet(dir))

  /** Canonical streaming documents read. The streaming file source
    * requires an explicit schema; forcing the `docsSchema` CONSTANT on a
    * driver-regenerated file is the same landmine the events table
    * already stepped on (a type change reads garbage without erroring),
    * so the forced schema is the file's OWN inferred one, then cast to
    * the canonical column types — drift becomes an analysis error or a
    * well-defined cast, never silent corruption.
    */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    // one footer read per dir per JVM: the schema is a property of the file
    val inferred = docsSchemas.computeIfAbsent(dir,
      _ => spark.read.parquet(s"$dir/documents.parquet").schema)
    spark.readStream.schema(inferred)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(graft.SparkEntry.docsSchema.fields.toSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private val docsSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The events stream as non-null-keyed, non-null-time observations. */
  private def obsEvents(s: SparkSession, dir: String): Dataset[ObsEvent] = {
    import s.implicits._
    eventsStream(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast("double").as("value"))
      .as[ObsEvent]
  }

  // ---- the staged event-time replays -----------------------------------

  private val EtReplayDayUs = 86_400_000_000L

  /** The replay PREFIX all `stream_*_et` gates stage: the first
    * [[EtReplayDays]] ts-days of the events table, measured from the
    * canonical replay epoch `d0` = min ts-day over (user_id, ts)
    * non-null rows — one epoch shared by every _et stream and mirrored
    * in every _et oracle's `t0` CTE. A harness choice, not semantics:
    * each micro-batch carries a fixed ~300 ms planning/commit floor,
    * so replaying all 30 ts-days triples every gate's bench cost while
    * proving nothing the first 9 don't (68 evictions / 37 changed
    * carries / 147 tombstones / 148 flushes at sf0.01, 7/2/18/18 at
    * sf0.001, ~550/250/1370/1390 at sf0.1 — scripts/et_sim.py, which
    * also re-proves engine ≡ oracle closed form at this prefix at all
    * three SFs; EtReplayDays is the margin-vs-evidence knob. Trimmed
    * 12 → 9 in r19 — the r18 streaming family cost ~55 s of a 203 s
    * board, almost all of it this per-batch floor, and 9 days is the
    * shortest prefix keeping every gate's eviction evidence nonzero at
    * every SF including the sf0.001 smoke scale).
    * The epoch read is one driver-side scalar aggregate (KB-scale),
    * memoized per dir. The _et oracle SQL strings interpolate it, so
    * engine and oracle move as one when the knob moves.
    *
    * The replay design was priced at sf0.1 (r15, min of 3, the
    * locfEnrich(eventTimeTtl) gate over the full ts range): one-day
    * buckets took ≈ 10.5 s with 8 state partitions, ≈ 8 s with 2 and
    * ≈ 7.3 s with 1; two-day buckets with 2 partitions took ≈ 4.3 s but
    * gutted the eviction evidence (sf0.01 changed carries 110 → 10,
    * sf0.001 → 0, et_sim.py); one-day buckets with 2 partitions over the
    * r18 12-day prefix took ≈ 4 s (95 evictions at sf0.01; the 9-day
    * prefix keeps 68). A fixed ~300 ms per micro-batch (trigger planning,
    * offset/commit log, state commit) dominates, so batch COUNT is the
    * lever: a shorter prefix keeps day-scale silences (common), where
    * coarser buckets would need week-scale ones (rare).
    */
  val EtReplayDays = 9L
  private val etReplayEpochs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def etReplayCutoffUs(spark: SparkSession, dir: String): Long = {
    val d0 = etReplayEpochs.computeIfAbsent(dir, _ =>
      events(spark, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .agg(min(col("ts"))).head.getLong(0) / EtReplayDayUs)
    (d0 + EtReplayDays) * EtReplayDayUs
  }

  /** The events rows of the replay prefix, with non-null key and time. */
  private def etEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).filter(col("user_id").isNotNull && col("ts").isNotNull &&
      col("ts") < lit(etReplayCutoffUs(spark, dir)))

  /** Staged chunk directories, memoized per (dir, replay): staging is
    * deterministic harness scaffolding — re-staging per bench pass would
    * time the writer, not the streaming operator under test.
    */
  private val etReplayDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** `base` bucketized one file per day of `microsCol` via
    * [[Streams.stageEventTimeReplay]], staged once per `key`.
    */
  private def staged(key: String, microsCol: String)(base: => DataFrame): String =
    etReplayDirs.computeIfAbsent(key, _ =>
      Streams.stageEventTimeReplay(base, microsCol, bucketUs = EtReplayDayUs))

  /** A staged chunk directory read back one file per micro-batch. */
  private def replay(spark: SparkSession, chunks: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(chunks)

  private val ObsSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", LongType), StructField("value", DoubleType)))

  /** The staged chunk directory behind [[etReplayStream]]. `nullifyThirds`
    * nulls `value` on `event_id % 3 = 0` (mirrored in the oracle SQL) so
    * the LOCF carry is load-bearing.
    */
  private def etReplayChunkDir(spark: SparkSession, dir: String,
      nullifyThirds: Boolean): String =
    staged(s"$dir#obs/$nullifyThirds", "ts") {
      etEvents(spark, dir).select(col("user_id"), col("event_id"), col("ts"),
        (if (nullifyThirds)
           when(col("event_id") % 3 === 0, lit(null))
             .otherwise(col("value").cast("double"))
         else col("value").cast("double")).as("value"))
    }

  /** The staged event-time backlog replay the `stream_*_et` eviction
    * gates stream from: the canonical events read, bucketized one file
    * per ts DAY, read back one file per micro-batch.
    */
  private def etReplayStream(spark: SparkSession, dir: String,
      nullifyThirds: Boolean): Dataset[ObsEvent] = {
    import spark.implicits._
    replay(spark, etReplayChunkDir(spark, dir, nullifyThirds), ObsSchema).as[ObsEvent]
  }

  /** The staged typed replay for `stream_transitions_et`: the replay
    * prefix carrying `event_type` (non-null), one file per ts DAY.
    */
  private def etTypedReplayStream(spark: SparkSession, dir: String): Dataset[TypedEvent] = {
    import spark.implicits._
    val chunks = staged(s"$dir#typed", "ts") {
      etEvents(spark, dir).filter(col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    }
    replay(spark, chunks, StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("event_type", StringType))))
      .as[TypedEvent]
  }

  /** The staged interval replay for `stream_episodes_et`: fixed-length
    * intervals (ivs = ts, ive = ts + 2 h) bucketized one file per ive
    * DAY — fixed length keeps per-key delivery monotone in BOTH
    * endpoints, which is what gives the idle-flush rule a closed-form
    * window oracle (reach = lag(ive)).
    */
  private def etEpisodeChunkDir(spark: SparkSession, dir: String): String =
    staged(s"$dir#episodes", "ive") {
      etEvents(spark, dir).select(col("user_id"), col("ts").as("ivs"),
        (col("ts") + lit(7_200_000_000L)).as("ive"))
    }

  private val etEpisodeSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ivs", LongType),
    StructField("ive", LongType)))

  private def etEpisodeReplayStream(spark: SparkSession, dir: String): Dataset[IntervalRow] = {
    import spark.implicits._
    replay(spark, etEpisodeChunkDir(spark, dir), etEpisodeSchema).as[IntervalRow]
  }

  /** The staged document replay for `stream_neardup_et`: documents with
    * a SYNTHETIC deterministic event time — day = (doc_id *
    * [[EtDocDayMult]]) mod [[EtDocDays]], ts = (day + 1) *
    * [[EtReplayDayUs]] exactly (constant within a day; the +1 keeps
    * day-0 rows strictly above Spark's initial watermark of 0 ms, which
    * would otherwise drop them as late before the operator — the lease
    * inequalities are invariant under the uniform shift) — bucketized
    * one file per ts day.
    * The constant-per-day ts is load-bearing for the oracle: an LSH
    * bucket's lease rides its latest MEMBER ts, and constant-per-day ts
    * makes that value a pure function of the member's day, independent
    * of which other docs share the bucket — which is what lets a
    * pairwise window SQL replay the bucket lease without knowing bucket
    * membership. The multiplicative hash spreads near-dup pairs across
    * the EtDocDays replay days so the 30 h lease genuinely splits the
    * verified pair set (kept vs evicted) instead of trivially keeping
    * everything — 13 kept / 12 evicted of the 25 batch pairs at sf0.01
    * with the r19 9-day prefix (12 days through r18 kept 9 / evicted
    * 16; trimmed with the EtReplayDays family — same per-batch-floor
    * rationale, and the split stays two-sided).
    */
  private val EtDocDayMult = 2654435761L // Knuth multiplicative hash
  private val EtDocDays = 9L
  private val EtDocLeaseMs = 108_000_000L // 30 h = 1.25 replay days
  /** The document's replay day — THE defining expression (Spark long
    * multiply wraps on overflow; pmod of the wrapped value is the
    * semantics). Shared by the replay staging and the Verify band dump
    * so the oracle reads this value rather than re-deriving it in SQL.
    */
  private def etDocDay(id: Column): Column =
    pmod(id * lit(EtDocDayMult), lit(EtDocDays))

  private[graft] def etDocsReplayStream(spark: SparkSession, dir: String): DataFrame = {
    val chunks = staged(s"$dir#docs", "ts") {
      t(spark, dir, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text"),
          ((etDocDay(col("doc_id")) + 1) * lit(EtReplayDayUs)).as("ts"))
    }
    replay(spark, chunks, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", LongType))))
  }

  // ---- the band dump -----------------------------------------------------

  /** The LSH band table `(band_idx, band_hash, doc_id, d)` of the sf
    * documents corpus — the SAME shingle→minhash→band chain the
    * streaming ops explode. The `stream_neardup_et` oracle replays the
    * per-BUCKET event-time lease chain exactly from this parquet
    * (member-day timelines → surviving gaps → alive pairs): bucket
    * bridging — a third member renewing a bucket mid-silence, which no
    * pairwise day-window can express — is replayed, not approximated.
    * The band kernel itself stays spec-pinned (FunctionsSpec /
    * DedupSpec) — the [[graft.SparkEntry.SimhashDump]] soundness pattern.
    */
  val NeardupBandsDump = Dump("neardup-bands", Seq("stream_neardup_et"),
    neardupBandFrame, check = requireBandDayCoverage)

  val dumps: Seq[Dump] = Seq(NeardupBandsDump)

  /** Guard the stream_neardup_et oracle's day-timeline assumption (r17
    * ADVICE): the oracle derives the replay-day set from the band dump,
    * which drops band-less docs (null/too-short text → minhash-null →
    * posexplode drop). If an entire replay day held ONLY band-less docs,
    * the oracle's day-ordinal/watermark timeline would silently diverge
    * from the replay the op actually sees — fail the dump loudly instead
    * of assuming.
    */
  private def requireBandDayCoverage(spark: SparkSession, dir: String): Unit = {
    val allDays = t(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(etDocDay(col("doc_id").cast("long")).as("d"))
      .distinct()
    val bandedDays = spark.read.parquet(NeardupBandsDump.dir(dir))
      .select(col("d")).distinct()
    val missing = allDays.except(bandedDays).collect()
    require(missing.isEmpty,
      "stream_neardup_et oracle day-coverage hole — replay days holding " +
        s"only band-less docs: ${missing.mkString(", ")}")
  }

  /** The banded LSH explode of the documents corpus, exactly as the
    * neardup ops compute it (Streams.neardupCandidates* and
    * graft.ops.Dedup.lshCandidates share these kernels/constants).
    * Carries the replay day `d` computed by the ENGINE's expression
    * ([[etDocDay]] — the same wrapped int64 product etDocsReplayStream
    * derives ts from), so the stream_neardup_et oracle reads the day
    * instead of re-deriving `(doc_id * mult) % days` in DuckDB, which
    * errors on int64 product overflow where Spark wraps silently (r16
    * ADVICE — divergent-by-engine, not just a magnitude assumption).
    */
  def neardupBandFrame(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(
        posexplode(graft.functions.band_hashes(
          graft.ops.Dedup.minhashSignature(
            graft.functions.shingle_hash_set(col("text"), 3)),
          graft.ops.Dedup.Bands, graft.ops.Dedup.RowsPerBand))
          .as(Seq("band_idx", "band_hash")),
        col("doc_id").cast("long").as("doc_id"),
        etDocDay(col("doc_id").cast("long")).as("d"))

  // ---- shared body pieces --------------------------------------------------

  /** The lease every `_et` gate's state expires after, on the data's clock. */
  private val Lease = java.time.Duration.ofHours(6)

  /** A legacy stateful gate `name` and its transformWithState twin
    * `name_tws`: one body over the state operator, the twin run on the
    * RocksDB provider and checked against the base record's oracle. The
    * body gets the label its memory sink is named after.
    */
  private def twins[Op](name: String, legacy: Op, tws: Op)
      (body: (String, Op) => Run)(oracleSql: => String): Seq[Gate] = {
    val base = Gate(name)(body(name, legacy))(oracleSql)
    Seq(base, Gate(name + "_tws") { (s, dir) =>
      Streams.withRocksDbProvider(s)(body(name + "_tws", tws)(s, dir))
    }(base.oracleSql))
  }

  /** A staged replay drained through a transformWithState `op` on the
    * RocksDB provider, killed after half the replay days and recovered
    * from its checkpoint ([[Streams.drainWithCheckpointRestart]]).
    */
  private def restartDrain[T: Encoder](s: SparkSession, chunks: String,
      schema: StructType)(op: Dataset[T] => Dataset[_]): DataFrame =
    Streams.withRocksDbProvider(s) {
      Streams.drainWithCheckpointRestart(s, chunks, schema, statePartitions = 2) { df =>
        op(df.as[T]).toDF()
      }
    }

  /** An event-time drain: one staged day per micro-batch, 2 state partitions. */
  private def drainEt(df: DataFrame, label: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame =
    Streams.runToMemory(df, label, outputMode, statePartitions = Some(2),
      availableNow = true)

  /** The LOCF gates' projection. */
  private def carried(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
        col("value"), col("carried"))
      .orderBy("event_id")

  /** The CDC changelog gates' projection. */
  private def changes(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("ts").as("ts_us"), col("event_id"),
        col("value"), col("op"))
      .orderBy("user_id", "ts_us", "event_id", "op")

  /** Streamed near-dup candidates verified by exact Jaccard ≥ 0.8. */
  private def verifiedPairs(s: SparkSession, dir: String, cands: DataFrame): DataFrame = {
    val signed = t(s, dir, "documents").select(
      col("doc_id"),
      graft.functions.shingle_hash_set(col("text"), 3).as("__shingles"))
    graft.ops.Dedup.verifyJaccard(cands.distinct(), signed, "doc_id", "__shingles")
      .filter(col("jaccard") >= 0.8)
      .orderBy("id_a", "id_b")
  }

  // ---- shared oracle fragments -------------------------------------------

  /** The CTE prelude of the `_et` oracles, replaying the staged backlog:
    * `t0` (the replay epoch), `ev` (the replayed rows: the `cols` select
    * list, plus `filter` when the replay drops more rows), `bk` (one
    * ordinal and max `bmax` event time per delivered day); with `seam`,
    * a restart's split ordinal `sp` and its watermark `wmseam`; then the
    * watermark during each batch — `wmt(ord, wm)` when not `lagged`, else
    * `wm0(ord, wm)` and `wmt(ord, wm, wmm1)` with the previous batch's
    * watermark; with `fin`, the final sweep's watermark `fin(final_wm)`.
    * The spelling is exact (`wmt` fits one line next to `fin`):
    * `oracle_sql.json` is compared byte for byte between versions.
    */
  private def etCtes(cols: String, filter: Option[String] = None,
      bmax: String = "tsu", seam: Boolean = false, lagged: Boolean = true,
      fin: Boolean = false): String = {
    val where = filter.fold(" WHERE user_id IS NOT NULL AND ts IS NOT NULL")(p =>
      s"\n  WHERE user_id IS NOT NULL AND ts IS NOT NULL\n    AND $p")
    val wm =
      """AS (
        |  SELECT ord,
        |    coalesce(max(bmax) OVER (ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) // 1000, 0) AS wm
        |  FROM bk
        |)""".stripMargin
    val lag = "SELECT ord, wm, lag(wm) OVER (ORDER BY ord) AS wmm1 FROM wm0"
    (Seq(
      """WITH t0 AS (
        |  SELECT min(epoch_us(ts)) // 86400000000 AS d0 FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)""".stripMargin,
      s"ev AS (\n  SELECT $cols\n  FROM events, t0$where\n" +
        s"    AND epoch_us(ts) // 86400000000 < t0.d0 + $EtReplayDays\n)",
      s"""bk AS (
         |  SELECT b, row_number() OVER (ORDER BY b) AS ord, max($bmax) AS bmax
         |  FROM ev GROUP BY b
         |)""".stripMargin) ++
      (if (seam) Seq("sp AS (SELECT count(*) // 2 AS s FROM bk)",
        """wmseam AS (
          |  SELECT max(bmax) // 1000 AS wms FROM bk, sp WHERE ord <= sp.s
          |)""".stripMargin) else Nil) ++
      (if (!lagged) Seq(s"wmt $wm")
       else if (fin) Seq(s"wm0 $wm", s"wmt AS ($lag)")
       else Seq(s"wm0 $wm", s"wmt AS (\n  $lag\n)")) ++
      (if (fin) Seq("fin AS (SELECT max(bmax) // 1000 AS final_wm FROM bk)") else Nil)
    ).mkString(",\n")
  }

  /** The `_et` replay rows of the LOCF and CDC oracles. */
  private val locfEtCols =
    """user_id, event_id, epoch_us(ts) AS tsu,
      |         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS val,
      |         epoch_us(ts) // 86400000000 AS b""".stripMargin
  private val cdcEtCols =
    """user_id, event_id, epoch_us(ts) AS tsu, value,
      |         epoch_us(ts) // 86400000000 AS b""".stripMargin

  /** The `stream_locf_et` replay (with `seam`, its restart cell's): a
    * key's carry segmented at each row whose `boundary` condition holds.
    */
  private def locfEtSql(boundary: String, seam: Boolean): String =
    etCtes(locfEtCols, seam = seam) + ",\n" +
      s"""r AS (
         |  SELECT ev.user_id, ev.event_id, ev.tsu, ev.val, bk.ord, w.wm, w.wmm1
         |  FROM ev JOIN bk USING (b) JOIN wmt w USING (ord)
         |),
         |flag AS (
         |  SELECT r.*,
         |    CASE WHEN lag(ord) OVER k IS NOT NULL
         |$boundary
         |         THEN 1 ELSE 0 END AS boundary
         |  FROM r${if (seam) ", sp, wmseam" else ""}
         |  WINDOW k AS (PARTITION BY user_id ORDER BY tsu, event_id)
         |),
         |seg AS (
         |  SELECT *, sum(boundary) OVER (PARTITION BY user_id
         |    ORDER BY tsu, event_id) AS sg
         |  FROM flag
         |)
         |SELECT event_id, user_id, tsu AS ts_us, val AS value,
         |       last_value(val IGNORE NULLS) OVER (PARTITION BY user_id, sg
         |         ORDER BY tsu, event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
         |FROM seg ORDER BY event_id""".stripMargin

  /** The `stream_cdc_et` replay: per-(key, day) upserts, and deletes
    * over `joins` where the `expired` lease condition holds.
    */
  private def cdcEtSql(joins: String, expired: String, seam: Boolean): String =
    etCtes(cdcEtCols, seam = seam, lagged = false, fin = true) + ",\n" +
      s"""stp AS (
         |  SELECT user_id, ord, wm, tsu, event_id, value FROM (
         |    SELECT ev.user_id, bk.ord, w.wm, ev.tsu, ev.event_id, ev.value,
         |           row_number() OVER (PARTITION BY ev.user_id, bk.ord
         |             ORDER BY ev.tsu DESC, ev.event_id DESC) AS rn
         |    FROM ev JOIN bk USING (b) JOIN wmt w USING (ord)
         |  ) WHERE rn = 1
         |),
         |nxt AS (
         |  SELECT *, lead(ord) OVER (PARTITION BY user_id ORDER BY ord) AS next_ord
         |  FROM stp
         |),
         |ups AS (
         |  SELECT user_id, tsu AS ts_us, event_id, value, 'upsert' AS op FROM nxt
         |),
         |dels AS (
         |  SELECT n.user_id, n.tsu AS ts_us, n.event_id, n.value, 'delete' AS op
         |  FROM nxt n
         |  CROSS JOIN $joins
         |  LEFT JOIN wmt wprev ON wprev.ord = n.next_ord - 1
         |  WHERE CASE WHEN n.next_ord IS NULL
         |             THEN fin.final_wm > greatest(n.tsu // 1000 + 21600000, n.wm + 1)
         |$expired
         |        END
         |)
         |SELECT * FROM (SELECT * FROM ups UNION ALL SELECT * FROM dels)
         |ORDER BY user_id, ts_us, event_id, op""".stripMargin

  // ---- the gates -----------------------------------------------------------

  val all: Seq[Gate] = Seq(
    // §7.6 — Structured Streaming gate: the SAME events data as a
    // file-source stream through watermarked dedup (bounded state), run to
    // completion with a memory sink. All part files fit one micro-batch
    // (maxFilesPerTrigger=1000 ≫ part count), so no row is ever late
    // against the watermark and the surviving key set is exactly
    // SELECT DISTINCT — giving a streaming operator a full value oracle.
    Gate("stream_dedup") { (s, dir) =>
      val deduped = Streams.dedupWithinWatermark(
        Streams.withEventTime(eventsStream(s, dir), "ts"),
        "event_time", "30 minutes", Seq("user_id", "event_type"))
        .select("user_id", "event_type")
      Streams.runToMemory(deduped, "stream_dedup", statePartitions = Some(8))
        .orderBy("user_id", "event_type")
    } {
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin
    },

    // stream_neardup_et: the LSH bucket lease on the DATA's clock,
    // hash-gated (r15 verdict #3). Documents replay over 9 synthetic
    // ts days (constant ts within a day — see etDocsReplayStream); a
    // bucket whose latest member is > 30 h of EVENT time behind the
    // watermark is evicted mid-stream, so a pair of near-dups arriving
    // ≥ 4 replay days apart pairs with NOTHING (its shared buckets died
    // in between) while pairs ≤ 3 days apart emit. Exact-Jaccard verify
    // over the streamed candidates makes the final answer the ≥0.8 pair
    // set FILTERED by bucket-lease survival — which the oracle replays
    // EXACTLY per bucket from the Verify band dump (NeardupBandsDump):
    // member-day timelines under the same wm/lease arithmetic as the
    // other _et oracles, INCLUDING bucket bridging — a third member
    // renewing a shared bucket mid-silence keeps a pair alive across a
    // day gap no pairwise window covers (2 of the 134 surviving sf0.1
    // pairs exist only through such a bridge, so the hash compare
    // exercises the chain semantics too). Validated engine-vs-oracle at
    // sf0.001/0.01/0.1 (r16).
    Gate("stream_neardup_et") { (s, dir) =>
      val cands = Streams.neardupCandidatesEventTime(
        etDocsReplayStream(s, dir), "doc_id", "text", "ts",
        eventTimeTtl = java.time.Duration.ofMillis(EtDocLeaseMs), n = 3)
      verifiedPairs(s, dir, drainEt(cands.toDF(), "stream_neardup_et"))
    } {
      // The day `d` is READ from the band dump (the engine's own
      // wrapped-mod expression, etDocDay) rather than re-derived in SQL:
      // DuckDB errors on the int64 product where Spark wraps. With
      // constant-per-day doc ts, a bucket's lease after a data day is
      // greatest((d+1)*day_ms + lease, wm + 1); a gap between consecutive
      // member days dies iff ≥1 full intervening batch exists AND the wm
      // during the batch before the later day strictly exceeds that
      // lease; a pair is alive iff SOME shared bucket has no dead gap
      // between the two docs' days. The day SET (dd) comes from bd too —
      // sound because every replayed doc has non-null text and therefore
      // bands (requireBandDayCoverage checks it at dump time).
      graft.SparkEntry.shingleCte +
        s""", bd AS (
           |  SELECT band_idx, band_hash, doc_id, d
           |  FROM read_parquet('${NeardupBandsDump.dir(verifySfDir)}/*.parquet')
           |), dd AS (
           |  SELECT DISTINCT d FROM bd
           |), ords AS (
           |  SELECT d, row_number() OVER (ORDER BY d) AS ord FROM dd
           |), wmt AS (
           |  SELECT d, ord,
           |    coalesce(max((d + 1) * 86400000) OVER (ORDER BY ord
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wm
           |  FROM ords
           |), badgaps AS (
           |  SELECT g.band_idx, g.band_hash, g.d1, g.d2
           |  FROM (SELECT band_idx, band_hash, d AS d1,
           |          lead(d) OVER (PARTITION BY band_idx, band_hash ORDER BY d) AS d2
           |        FROM (SELECT DISTINCT band_idx, band_hash, d FROM bd)) g
           |  JOIN wmt w1 ON w1.d = g.d1
           |  JOIN wmt w2 ON w2.d = g.d2
           |  LEFT JOIN wmt wp ON wp.ord = w2.ord - 1
           |  WHERE w2.ord >= w1.ord + 2
           |    AND wp.wm > greatest((g.d1 + 1) * 86400000 + $EtDocLeaseMs,
           |                         w1.wm + 1)
           |), alive AS (
           |  SELECT DISTINCT s.id_a, s.id_b FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |           a.band_idx, a.band_hash,
           |           least(a.d, b.d) AS dlo, greatest(a.d, b.d) AS dhi
           |    FROM bd a JOIN bd b ON a.band_idx = b.band_idx
           |      AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id) s
           |  WHERE NOT EXISTS (SELECT 1 FROM badgaps g
           |    WHERE g.band_idx = s.band_idx AND g.band_hash = s.band_hash
           |      AND g.d1 >= s.dlo AND g.d2 <= s.dhi)
           |)
           |SELECT id_a, id_b,
           |  round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
           |FROM pair_inter
           |JOIN sz sa ON sa.doc_id = id_a
           |JOIN sz sb ON sb.doc_id = id_b
           |JOIN alive USING (id_a, id_b)
           |WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
    },

    // §7.6 — stream-STREAM watermarked interval join: view→click
    // attribution (clicks within 6 h of a same-user view), both sides
    // fed from the file-source event stream. Exact event-id pairs with
    // µs delays — the batch inequality join is the full oracle.
    Gate("stream_join") { (s, dir) =>
      val ev = Streams.withEventTime(eventsStream(s, dir), "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("event_time").as("view_time"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("event_time").as("click_time"))
      val joined = Streams.intervalJoinStreams(
        views, clicks, Seq("user_id"), "view_time", "click_time",
        watermark = "1 hour", within = "6 hours")
        .select(col("l.user_id").as("user_id"), col("view_id"), col("click_id"),
          (unix_micros(col("click_time")) - unix_micros(col("view_time")))
            .as("delay_us"))
      Streams.runToMemory(joined, "stream_join", statePartitions = Some(8))
        .orderBy("view_id", "click_id")
    } {
      // DuckDB ts is already µs-truncated and the engine's canonical ts is
      // epoch-µs (event_time = timestamp_micros(ts), no division) —
      // µs-exact on both sides, so delays compare exactly.
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
        |FROM events v JOIN events c ON c.user_id = v.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
        |ORDER BY view_id, click_id""".stripMargin
    },

    // §7.6 — stream-static POINT-IN-TIME enrichment (the streaming twin
    // of pit_lookup): the click stream is as-of joined to a static
    // dedup'd view-history dim via the broadcast as-of path — stateless
    // on the stream, no watermark needed, dim re-planned per batch. The
    // batch asof_join oracle verbatim: streaming must change nothing.
    Gate("stream_asof") { (s, dir) =>
      val clicks = eventsStream(s, dir).filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = graft.clean.Cleaners.dedupKeepFirst(
          events(s, dir).filter(col("event_type") === "view")
            .select("user_id", "ts", "value", "event_id"),
          Seq("user_id", "ts"), Seq(col("event_id")))
        .select(col("user_id"), col("ts").as("vts"), col("value").as("view_value"))
      val enriched = Streams.asofEnrichStatic(
        clicks, views, Seq("user_id"), "ts", "vts", Seq("view_value"))
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          col("view_value"))
      Streams.runToMemory(enriched, "stream_asof", statePartitions = Some(8))
        .orderBy("event_id")
    }(graft.SparkEntry.asofJoinSql),

    // §7.6 — STREAMING bulk-FHIR ingest at corpus scale: the 5k-bundle
    // directory through the streaming reader in bounded micro-batches
    // (maxFilesPerTrigger=1000 → 5 batches) under Trigger.AvailableNow
    // (ONE source listing for the whole backlog — the bulk-backfill
    // trigger; the default trigger re-lists 5k files per batch and that
    // listing, not the parse, dominated the gate), Complete-mode
    // per-type counts. The oracle is the GENERATOR's literal entry-count
    // prediction — micro-batching must not lose or duplicate a bundle.
    Gate("stream_fhir") { (s, _) =>
      val counts = Streams.readBundleStream(s, graft.fhir.FhirCorpus.corpusDir)
        .groupBy(col("resource.resourceType").as("resource_type"))
        .agg(count(lit(1)).as("n_entries"))
      Streams.runToMemory(counts, "stream_fhir", OutputMode.Complete(),
          statePartitions = Some(8), availableNow = true)
        .orderBy("resource_type")
    } {
      // generator-predicted literals — no parquet, no JSON parse anywhere
      // on the oracle side
      val rows = graft.fhir.FhirCorpus
        .expectedEntryCounts(graft.fhir.FhirCorpus.DefaultPatients)
        .map { case (t, n) => s"('$t', CAST($n AS BIGINT))" }.mkString(", ")
      s"""SELECT * FROM (VALUES $rows) AS t(resource_type, n_entries)
         |ORDER BY resource_type""".stripMargin
    },

    // §7.6 — stream-static join: the incoming document stream is flagged
    // against the STATIC history split — stateless on the stream side,
    // deterministic run-to-completion, so the result is exactly the batch
    // dedup_incremental and shares its oracle.
    Gate("stream_seen") { (s, dir) =>
      val src = docsStream(s, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 0)
      val history = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val flagged = Streams.flagSeenInStatic(src, "text", history, "text")
        .select("doc_id", "in_history")
      Streams.runToMemory(flagged, "stream_seen", statePartitions = Some(8))
        .orderBy("doc_id")
    }(graft.SparkEntry.dedupIncrementalSql),

    // §7.6 — third streaming gate: gap-based session windows over the
    // event stream (Complete mode). session_window's merge semantics
    // (events within the gap coalesce) are exactly the batch sessionize
    // grouping, so per-session (user, start, n) hash-matches the same
    // lag-gap SQL the batch gate uses — streaming/batch sessionization
    // parity, value-checked.
    Gate("stream_sessions") { (s, dir) =>
      val sessions = Streams.sessionWindows(
        Streams.withEventTime(eventsStream(s, dir), "ts"),
        "event_time", "30 minutes", "30 minutes", Seq("user_id"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"))
      Streams.runToMemory(sessions, "stream_sessions", OutputMode.Complete(),
          statePartitions = Some(8))
        .orderBy("user_id", "start_us")
    } {
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events
        |), marked AS (
        |  SELECT user_id, tus,
        |    CASE WHEN prev_us IS NULL OR tus - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session,
        |    event_id
        |  FROM g
        |), sessions AS (
        |  SELECT user_id, tus,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin
    },

    // §7.6 — fifth streaming gate: windowed corpus-quality monitor over
    // a document stream (event time synthesized from doc_id, one doc a
    // minute → hourly windows). Per (window × lang): doc count, exact
    // token sum, Gopher-keep count — the crawl-drift alarm, value-parity
    // with the batch GROUP BY oracle because every aggregate is an exact
    // int64 sum of deterministic kernel metrics.
    Gate("stream_quality") { (s, dir) =>
      val src = docsStream(s, dir)
        .filter(col("doc_id").isNotNull)
        .withColumn("event_time", timestamp_micros(col("doc_id") * lit(60000000L)))
      val prof = Streams.windowedQualityProfile(
        src, "event_time", "30 minutes", "1 hour", Seq("lang"), "text")
        .select(
          unix_micros(col("window.start")).as("win_start_us"),
          col("lang"), col("n_docs"), col("n_tokens"), col("n_keep"))
      Streams.runToMemory(prof, "stream_quality", OutputMode.Complete(),
          statePartitions = Some(8))
        .orderBy("win_start_us", "lang")
    } {
      import graft.SparkEntry.{gopherKeepSql, tok0Sql}
      s"""SELECT (doc_id // 60) * 3600000000 AS win_start_us, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum($tok0Sql) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM documents WHERE doc_id IS NOT NULL
         |GROUP BY 1, 2 ORDER BY win_start_us, lang NULLS FIRST""".stripMargin
    },

    // §7.6 — streaming drift monitor: per-day windowed value histogram
    // (stateful state = windows × bins+2 rows, data-independent) scored
    // as PSI against the whole-corpus reference batch-side — the
    // streaming twin of drift_psi. Counting is exact int64 in the
    // stream; the score arithmetic runs on the windows×bins sink table.
    Gate("stream_drift") { (s, dir) =>
      val (lo, hi, bins) = (0.0, 500.0, 20)
      val counts = Streams.windowedValueHistogram(
        Streams.withEventTime(eventsStream(s, dir), "ts"),
        "event_time", "1 hour", "1 day", "value", lo, hi, bins)
        .select(
          unix_micros(col("window.start")).as("win_start_us"),
          col("bin"), col("n"))
      val sink = Streams.runToMemory(counts, "stream_drift", OutputMode.Complete(),
        statePartitions = Some(8))
      val ref = graft.ops.Profiling.histogram(events(s, dir), "value", lo, hi, bins)
      graft.ops.Profiling.psiFromCounts(sink, ref, Seq("win_start_us"), bins)
        .orderBy("win_start_us", "bin")
    } {
      """WITH ev AS (
        |  SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS win_start_us,
        |    CASE WHEN value < 0.0 THEN -1 WHEN value >= 500.0 THEN 20
        |      ELSE least(CAST(floor(value / 25.0) AS BIGINT), 19) END AS bin
        |  FROM events WHERE value IS NOT NULL),
        |wb AS (SELECT win_start_us, bin, count(*) AS n FROM ev GROUP BY 1, 2),
        |ref AS (SELECT bin, count(*) AS n FROM ev GROUP BY 1),
        |wins AS (SELECT DISTINCT win_start_us FROM wb),
        |grid AS (
        |  SELECT w.win_start_us, b.bin FROM wins w
        |  CROSS JOIN (SELECT unnest(range(-1, 21)) AS bin) b),
        |wt AS (SELECT win_start_us, sum(n) AS wt FROM wb GROUP BY 1),
        |rt AS (SELECT sum(n) AS rt FROM ref),
        |shares AS (
        |  SELECT g.win_start_us, g.bin,
        |    CAST(coalesce(r.n, 0) + 1 AS DOUBLE) / (CAST(rt.rt AS DOUBLE) + 22) AS p,
        |    CAST(coalesce(wb.n, 0) + 1 AS DOUBLE) / (CAST(wt.wt AS DOUBLE) + 22) AS q
        |  FROM grid g
        |  LEFT JOIN wb ON wb.win_start_us = g.win_start_us AND wb.bin = g.bin
        |  LEFT JOIN ref r ON r.bin = g.bin
        |  JOIN wt ON wt.win_start_us = g.win_start_us
        |  CROSS JOIN rt)
        |SELECT win_start_us, bin, round(p, 6) AS base_share,
        |  round(q, 6) AS cur_share,
        |  round((q - p) * ln(q / p), 6) AS psi_term
        |FROM shares ORDER BY win_start_us, bin""".stripMargin
    },

    // Streaming twin of anomaly_zscore: profile trained batch-side,
    // stream scored via a STATELESS stream-static join through the
    // shared scoring definition — ingestion order cannot matter, so the
    // oracle is literally the batch gate's SQL.
    Gate("stream_anomaly") { (s, dir) =>
      val profile = graft.ops.Profiling.groupStats(events(s, dir), "user_id", "value")
      val scored = Streams.zscoreEnrichStatic(
        eventsStream(s, dir), "user_id", "value", profile)
        .select("event_id", "user_id", "value", "group_n", "zscore")
      Streams.runToMemory(scored, "stream_anomaly", statePartitions = Some(8))
        .orderBy("event_id")
    }(graft.SparkEntry.anomalyZscoreSql),

    // stream_locf_et_tws_restart: the SAME op and staged replay as
    // stream_locf_et_tws, but the query is KILLED after the first half
    // of the replay days and a new incarnation recovers from the
    // checkpoint (RocksDB state + armed event-time timers + watermark)
    // before the remaining days arrive — through the fault-tolerant
    // file sink, since the memory sink doesn't survive a restart
    // (r17 verdict #5: the restart was spec-pinned but never
    // oracle-gated).
    Gate("stream_locf_et_tws_restart") { (s, dir) =>
      import s.implicits._
      carried(restartDrain[ObsEvent](s, etReplayChunkDir(s, dir, nullifyThirds = true),
        ObsSchema)(Streams.locfEnrichTws(_, eventTimeTtl = Some(Lease))))
    } {
      // stream_locf_et's replay plus the ONE thing a mid-backlog
      // checkpoint restart adds — the dying incarnation's final
      // AvailableNow batch is a KEY-SILENT watermark sweep (wm = max ts
      // of the first half's buckets) in which any armed lease strictly
      // below that wm fires with no data to re-arm it. The extra boundary
      // term models exactly that sweep at the split ordinal
      // (count(buckets)//2, the engine helper's split), so the hash proves
      // BOTH directions: state/timers the sweep spares must survive
      // recovery (missing state ⇒ extra boundaries ⇒ mismatch), and the
      // sweep itself must fire per the lease rule (a resurrected-too-much
      // checkpoint ⇒ missing boundaries ⇒ mismatch).
      locfEtSql(
        """          AND count(val) OVER (PARTITION BY user_id ORDER BY tsu, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0
          |          AND (
          |            (ord >= lag(ord) OVER k + 2
          |             AND wmm1 > greatest(lag(tsu) OVER k // 1000 + 21600000,
          |                                 lag(wm) OVER k + 1))
          |            OR
          |            (lag(ord) OVER k <= sp.s AND ord >= sp.s + 1
          |             AND wmseam.wms > greatest(lag(tsu) OVER k // 1000 + 21600000,
          |                                       lag(wm) OVER k + 1))
          |          )""".stripMargin, seam = true)
    },

    // stream_cdc_et_tws_restart: the CDC changelog killed mid-backlog
    // and recovered — the third restart cell (r18 verdict #3), covering
    // the production-critical case the locf/episodes cells don't: state
    // expiry that EMITS a tombstone ROW across the seam. The dying
    // incarnation's key-silent final-watermark sweep FIRES any armed
    // lease strictly below the first half's max-ts watermark, emitting
    // that key's winner as an EXTRA delete the single-run feed never
    // produces (the following upsert re-arms fresh state). Matching the
    // oracle proves both directions: leases the seam spares must survive
    // recovery verbatim (lost state ⇒ missing later tombstones), and the
    // seam sweep itself must fire per the lease rule (over-resurrected
    // state ⇒ missing seam tombstones). Append operator mode: every
    // CdcChange row is an append-only change RECORD, the
    // changelog-into-a-log-sink production shape.
    Gate("stream_cdc_et_tws_restart") { (s, dir) =>
      import s.implicits._
      changes(restartDrain[ObsEvent](s, etReplayChunkDir(s, dir, nullifyThirds = false),
        ObsSchema)(Streams.latestStateChangesTws(_, Lease, outputMode = OutputMode.Append())))
    } {
      // The seam term only MATTERS for winner/next-data pairs straddling
      // the split where the regular rule stays silent (next_ord = s+1, or
      // wm(next_ord-1) still below the lease): for next_ord >= s+2 the
      // regular wprev.wm >= wms already fires the identical row, and for
      // keys with no next data the final sweep (final_wm >= wms) does —
      // the OR keeps those single-row cases single. Upserts are unchanged:
      // the restart repartitions batches across incarnations but the
      // per-(key, day) argmax and the watermark sequence are pure
      // functions of the staged data.
      cdcEtSql("fin CROSS JOIN sp CROSS JOIN wmseam",
        """             ELSE (n.next_ord >= n.ord + 2
          |                   AND wprev.wm > greatest(n.tsu // 1000 + 21600000, n.wm + 1))
          |               OR (n.ord <= sp.s AND n.next_ord >= sp.s + 1
          |                   AND wmseam.wms > greatest(n.tsu // 1000 + 21600000, n.wm + 1))""".stripMargin,
        seam = true)
    },

    // stream_episodes_et_tws_restart: the timer-EMITS twin of
    // stream_locf_et_tws_restart — the query is killed after half the
    // replay days and recovered from the checkpoint, and the dying
    // incarnation's key-silent final-watermark sweep FIRES the flush
    // timers it covers, emitting those episodes truncated at the seam
    // (content = exactly the phase-1 merges — the recovered state must
    // carry the open episode's mstart/mend/count verbatim).
    Gate("stream_episodes_et_tws_restart") { (s, dir) =>
      import s.implicits._
      restartDrain[IntervalRow](s, etEpisodeChunkDir(s, dir), etEpisodeSchema)(
        Streams.episodeStateTws(_, gap = 7_200_000_000L, eventTimeIdleFlush = Some(Lease)))
        .orderBy("user_id", "mstart")
    } {
      // Unlike locf, the restart's seam sweep is PROVABLY output-neutral
      // here: a flush lease can only expire at the seam if the key's next
      // interval is > gap away (flush 6 h >= gap 2 h + 2 x interval 2 h
      // forces ivs - lag(ive) > 4 h > gap), so every seam-flushable pair
      // is already a gap break — the single-run oracle holds verbatim,
      // and matching it proves the recovered RocksDB state carries every
      // seam-straddling open episode's mstart/mend/count bit-exactly (a
      // lost or mangled episode would split or miscount).
      episodesEtSql
    },

    // §7.6 — second streaming gate: watermarked tumbling-window counts
    // over the file-source event stream, run to completion in Complete
    // mode (every window emitted regardless of the final watermark), so
    // the result is exactly the batch GROUP BY — full value oracle.
    Gate("stream_windows")(windowCounts("stream_windows", OutputMode.Complete())) {
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2
        |ORDER BY win_start_us, event_type NULLS FIRST""".stripMargin
    },

    // Streaming heavy hitters: Complete-mode running counts per user in
    // the stream, top-10 taken batch-side — the streaming twin of
    // heavy_hitters, sharing its oracle verbatim.
    Gate("stream_topk")(userCounts("stream_topk", OutputMode.Complete()))(
      graft.SparkEntry.heavyHittersSql),

    // The UPDATE-output twins of stream_windows and stream_topk — the
    // 100×-cardinality-safe shape: Complete mode rewrites the ENTIRE
    // result table every trigger (fine at 2.5k users, hostile at 250M
    // keys), Update mode emits only the keys whose count changed in that
    // micro-batch. State is identical; what shrinks is the per-trigger
    // OUTPUT. A running count is monotonically nondecreasing, so the
    // final total = max over the emitted updates — the fold the
    // memory-sink readback applies, and exactly the upsert a real
    // KV/Delta sink would perform per update row. Oracle: the Complete
    // gate's — output mode must not change what the totals converge to.
    Gate("stream_windows_update")(windowCounts("stream_windows_update", OutputMode.Update()))(
      gateNamed("stream_windows").oracleSql),
    Gate("stream_topk_update")(userCounts("stream_topk_update", OutputMode.Update()))(
      gateNamed("stream_topk").oracleSql)
  ) ++
    // §7.6 — streaming NEAR-dup: MinHash-LSH candidate detection as
    // per-bucket state (the banded index itself: flatMapGroupsWithState,
    // or ListState bucket membership on RocksDB), batch-side exact-Jaccard
    // verify over the streamed candidate set. Run-to-completion makes the
    // candidate set exactly the batch lshCandidates' — so the whole
    // operator hash-matches dedup_minhash's ALL-PAIRS exact-jaccard
    // oracle (candidate completeness across the stream/state path
    // verified, not assumed).
    twins("stream_neardup",
        Streams.neardupCandidates(_: DataFrame, "doc_id", "text", n = 3),
        Streams.neardupCandidatesTws(_: DataFrame, "doc_id", "text", n = 3)) {
      (label, op) => (s, dir) =>
        verifiedPairs(s, dir, Streams.runToMemory(op(docsStream(s, dir)).toDF(), label,
          statePartitions = Some(8)))
    }(graft.SparkEntry.jaccardSql(0.8)) ++
    // §7.6 — stateful streaming LOCF: every event emitted with its key's
    // last non-null value (per-key state = one double). The single-file
    // source runs in one batch, where the op is exactly the batch IGNORE
    // NULLS carry window.
    twins("stream_locf", Streams.locfEnrich(_: Dataset[ObsEvent]),
        Streams.locfEnrichTws(_: Dataset[ObsEvent])) { (label, op) => (s, dir) =>
      carried(Streams.runToMemory(op(obsEvents(s, dir)).toDF(), label,
        statePartitions = Some(8)))
    } {
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  last_value(value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |ORDER BY event_id""".stripMargin
    } ++
    // §7.6 — streaming CDC state table: latest row per key upserted in
    // state (Update output) — the stream side of cdc_upsert, where the
    // state store is the base table and each micro-batch emits only
    // changed keys. Single-batch run-to-completion makes the sink exactly
    // the batch latest-per-key rank.
    twins("stream_cdc", Streams.latestState(_: Dataset[ObsEvent]),
        Streams.latestStateTws(_: Dataset[ObsEvent])) { (label, op) => (s, dir) =>
      Streams.runToMemory(op(obsEvents(s, dir)).toDF(), label, OutputMode.Update(),
          statePartitions = Some(8))
        .select(col("user_id"), col("ts").as("ts_us"), col("event_id"), col("value"))
        .orderBy("user_id")
    } {
      """SELECT user_id, ts_us, event_id, value FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
    } ++
    // Interval algebra §D-stream — the episodes_of_care construction as
    // a stateful stream (one open episode per key in state; Append emits
    // only CLOSED episodes; the TWS timer machinery stays dormant without
    // an idle flush). Oracle = the batch merge minus each key's trailing
    // island.
    twins("stream_episodes", Streams.episodeState(_: Dataset[IntervalRow], gap = 2L),
        Streams.episodeStateTws(_: Dataset[IntervalRow], gap = 2L)) { (label, op) => (s, dir) =>
      import s.implicits._
      val durH = lit(1L) + (abs(floor(col("value"))).cast("long") % lit(6L))
      val sH = expr("ts DIV 3600000000")
      val iv = eventsStream(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), sH.as("ivs"), (sH + durH).as("ive"))
        .as[IntervalRow]
      Streams.runToMemory(op(iv).toDF(), label, statePartitions = Some(8))
        .orderBy("user_id", "mstart")
    } {
      """WITH iv AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 3600000000 AS ivs,
        |    epoch_us(ts) // 3600000000 + 1 + (CAST(abs(floor(value)) AS BIGINT) % 6) AS ive
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT user_id, ivs, ive,
        |    max(ive) OVER (PARTITION BY user_id ORDER BY ivs, ive
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |g AS (
        |  SELECT user_id, ivs, ive,
        |    sum(CASE WHEN pmax IS NULL OR ivs > pmax + 2 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ivs, ive
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |isl AS (
        |  SELECT user_id, island, min(ivs) AS mstart, max(ive) AS mend,
        |    count(*) AS n_merged
        |  FROM g GROUP BY user_id, island),
        |mx AS (SELECT user_id, max(island) AS mi FROM isl GROUP BY user_id)
        |SELECT isl.user_id,
        |  CAST(mstart AS BIGINT) AS mstart,
        |  CAST(mend AS BIGINT) AS mend,
        |  CAST(n_merged AS BIGINT) AS n_merged
        |FROM isl JOIN mx ON mx.user_id = isl.user_id
        |WHERE isl.island < mx.mi
        |ORDER BY isl.user_id, mstart""".stripMargin
    } ++
    // Stateful-streaming twin of event_transitions: per-key
    // previous-event state emits the transition pairs incrementally
    // (in-batch (ts, event_id) sort), batch-side fold to the same matrix
    // — the event_transitions oracle verbatim.
    twins("stream_transitions", Streams.transitionsStateful(_: Dataset[TypedEvent]),
        Streams.transitionsStatefulTws(_: Dataset[TypedEvent])) { (label, op) => (s, dir) =>
      import s.implicits._
      // event_type non-null: the transitions ops' input contract
      val ev = eventsStream(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .as[TypedEvent]
      val sink = Streams.runToMemory(op(ev).toDF(), label, statePartitions = Some(8))
      val wFrom = Window.partitionBy(col("from_type"))
      sink.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from", sum(col("n")).over(wFrom))
        .withColumn("p",
          round(col("n").cast("double") / col("n_from").cast("double"), 6))
        .orderBy("from_type", "to_type")
    }(graft.SparkEntry.eventTransitionsSql) ++
    // Round 15 — the EVENT-TIME EVICTION gates: state expiring on the
    // DATA's clock, exercised mid-stream and hash-compared against a
    // DuckDB replay of the data-clock rule. The input is the events
    // table staged as a deterministic backlog replay (one file per ts
    // DAY, one micro-batch per file under AvailableNow — see
    // Streams.stageEventTimeReplay), which pins the micro-batch
    // partitioning and with it every watermark value and timer firing.
    // The replay is the first EtReplayDays=9 ts-days, and
    // statePartitions=2 (10 micro-batches pay per-partition commit 10×,
    // unlike the single-drain gates' 8). A 6 h lease against per-user
    // day-scale silences evicts leases mid-stream, so a wrong watermark
    // floor, a wrong strictness on the timer compare, or a lease
    // regressing on a late batch all hash-mismatch. Each legacy op has a
    // transformWithState twin whose real per-key event-time timer on
    // RocksDB clears or emits the same state at the same watermark.
    //
    // stream_locf_et: eviction observed through the CARRY — a key quiet
    // past the lease forgets its last observation, so the first rows
    // after a long-enough silence carry null (or only in-batch values)
    // instead of the stale pre-silence carry. value is deterministically
    // nulled on event_id % 3 = 0 (both sides) so the carry is
    // load-bearing.
    twins("stream_locf_et", Streams.locfEnrich(_: Dataset[ObsEvent], eventTimeTtl = Some(Lease)),
        Streams.locfEnrichTws(_: Dataset[ObsEvent], eventTimeTtl = Some(Lease))) {
      (label, op) => (s, dir) =>
        carried(drainEt(op(etReplayStream(s, dir, nullifyThirds = true)).toDF(), label))
    } {
      // Event-time EVICTION replay, validated against the exact-semantics
      // simulator (scripts/et_sim.py + et_oracle_check.py) at
      // sf0.001/0.01/0.1:
      //   - delivered batch = ts day (86400000000 us), in event-time order;
      //   - wm during batch k = floor(max event-us of batches < k / 1000),
      //     0 before any data (delay "0 seconds");
      //   - lease after a key's data batch = greatest(latest-ts-ms + ttl,
      //     wm-at-that-batch + 1), ttl = 6 h = 21600000 ms;
      //   - eviction fires in the first KEY-SILENT batch whose wm STRICTLY
      //     exceeds the lease — between consecutive key rows that means
      //     "next batch is >= 2 ordinals later AND wm at (next ordinal - 1)
      //     > lease" (wm is monotone, and a batch where the key HAS data
      //     re-arms the lease above the wm before any timer could fire).
      // An evicted key forgets its carry: segment the per-key row
      // sequence at evictions, then LOCF within segments. The "some
      // non-null seen" clause mirrors "state exists iff a carry does": a
      // carry-less key arms no lease (and a spurious boundary on a
      // carry-less stretch provably cuts nothing).
      locfEtSql(
        """          AND ord >= lag(ord) OVER k + 2
          |          AND wmm1 > greatest(lag(tsu) OVER k // 1000 + 21600000,
          |                              lag(wm) OVER k + 1)
          |          AND count(val) OVER (PARTITION BY user_id ORDER BY tsu, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0""".stripMargin,
        seam = false)
    } ++
    // stream_cdc_et: eviction observed DIRECTLY — the changes op emits a
    // DELETE tombstone carrying the dying winner when a key's event-time
    // lease expires (the Kafka-compaction/TTL-stream record shape), so
    // the eviction set itself is hashed, not inferred.
    twins("stream_cdc_et", Streams.latestStateChanges(_: Dataset[ObsEvent], Lease),
        Streams.latestStateChangesTws(_: Dataset[ObsEvent], Lease)) { (label, op) => (s, dir) =>
      changes(drainEt(op(etReplayStream(s, dir, nullifyThirds = false)).toDF(), label,
        OutputMode.Update()))
    } {
      // Upserts are the per-(key, day) argmax (in-order delivery strictly
      // advances the winner every data bucket, evicted or not: any
      // admissible post-eviction arrival is above the watermark and hence
      // above the dead winner + ttl, which is why NO state simulation is
      // needed); deletes fire by the lease rule between consecutive data
      // buckets, plus the final-watermark sweep for Spark's extra
      // post-backlog batch (final wm = floor(global max ts / 1000)).
      cdcEtSql("fin",
        """             ELSE n.next_ord >= n.ord + 2
          |                  AND wprev.wm > greatest(n.tsu // 1000 + 21600000, n.wm + 1)""".stripMargin,
        seam = false)
    } ++
    // stream_episodes_et: event-time SESSIONIZATION — the idle flush
    // produces OUTPUT, so wall-clock flushing would change the result
    // set, not just state size. Intervals are FIXED-LENGTH (ivs = ts,
    // ive = ts + 2 h) so per-key delivery is ivs- AND ive-monotone under
    // the ive-day-bucket replay, which gives the flush rule a
    // closed-form window oracle (340 watermark flushes at sf0.01). A
    // flush firing one batch early/late, a lease regressing, or the
    // trailing open episode leaking all hash-mismatch.
    twins("stream_episodes_et",
        Streams.episodeState(_: Dataset[IntervalRow], gap = 7_200_000_000L,
          eventTimeIdleFlush = Some(Lease)),
        Streams.episodeStateTws(_: Dataset[IntervalRow], gap = 7_200_000_000L,
          eventTimeIdleFlush = Some(Lease))) { (label, op) => (s, dir) =>
      drainEt(op(etEpisodeReplayStream(s, dir)).toDF(), label)
        .orderBy("user_id", "mstart")
    }(episodesEtSql) ++
    // stream_transitions_et: eviction observed through the CHAIN — a key
    // quiet past the lease forgets its previous-event marker, so the
    // first event after a long-enough silence starts a fresh chain
    // (emits NO pair) instead of pairing with the stale predecessor. At
    // sf0.01 the 6 h lease suppresses ~92 pairs vs a no-eviction run
    // (scripts/et_sim.py).
    twins("stream_transitions_et",
        Streams.transitionsStateful(_: Dataset[TypedEvent], eventTimeTtl = Some(Lease)),
        Streams.transitionsStatefulTws(_: Dataset[TypedEvent], eventTimeTtl = Some(Lease))) {
      (label, op) => (s, dir) =>
        drainEt(op(etTypedReplayStream(s, dir)).toDF(), label)
          .select(col("user_id"), col("from_type"), col("to_type"))
          .orderBy("user_id", "from_type", "to_type")
    } {
      // stream_locf_et's boundary arithmetic WITHOUT the "some non-null
      // seen" clause (the marker exists after any batch); pairs are the
      // in-segment lag (in-order day-bucket delivery makes the stored
      // marker exactly the key's previous row).
      etCtes(
        """user_id, event_id, epoch_us(ts) AS tsu, event_type,
          |         epoch_us(ts) // 86400000000 AS b""".stripMargin,
        filter = Some("event_type IS NOT NULL")) + ",\n" +
        """r AS (
          |  SELECT ev.user_id, ev.event_id, ev.tsu, ev.event_type, bk.ord,
          |         w.wm, w.wmm1
          |  FROM ev JOIN bk USING (b) JOIN wmt w USING (ord)
          |),
          |p AS (
          |  SELECT r.user_id, r.event_type AS to_type,
          |    lag(event_type) OVER k AS from_type,
          |    CASE WHEN lag(ord) OVER k IS NOT NULL
          |          AND ord >= lag(ord) OVER k + 2
          |          AND wmm1 > greatest(lag(tsu) OVER k // 1000 + 21600000,
          |                              lag(wm) OVER k + 1)
          |         THEN 1 ELSE 0 END AS evicted
          |  FROM r
          |  WINDOW k AS (PARTITION BY user_id ORDER BY tsu, event_id)
          |)
          |SELECT user_id, from_type, to_type
          |FROM p WHERE from_type IS NOT NULL AND evicted = 0
          |ORDER BY user_id, from_type, to_type""".stripMargin
    }

  private def gateNamed(name: String): Gate = all.find(_.name == name).get

  /** Watermarked tumbling-window counts per event_type, drained in `mode`;
    * an Update stream is folded to its per-window max, the Complete table.
    */
  private def windowCounts(label: String, mode: OutputMode): Run = (s, dir) => {
    val counts = Streams.windowedCounts(
      Streams.withEventTime(eventsStream(s, dir), "ts"),
      "event_time", "30 minutes", "1 hour", Seq("event_type"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"))
    val sink = Streams.runToMemory(counts, label, mode, statePartitions = Some(8))
    (if (mode == OutputMode.Update())
       sink.groupBy(col("win_start_us"), col("event_type"))
         .agg(max(col("n_events")).as("n_events"))
     else sink)
      .orderBy("win_start_us", "event_type")
  }

  /** Running event counts per user drained in `mode` (an Update stream
    * folded to its per-user max), top 10.
    */
  private def userCounts(label: String, mode: OutputMode): Run = (s, dir) => {
    val counts = eventsStream(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val sink = Streams.runToMemory(counts, label, mode, statePartitions = Some(8))
    (if (mode == OutputMode.Update())
       sink.groupBy(col("user_id")).agg(max(col("n_events")).as("n_events"))
     else sink)
      .orderBy(col("n_events").desc, col("user_id")).limit(10)
  }

  /** The `stream_episodes_et` replay — fixed 2 h intervals, 2 h merge
    * gap, 6 h idle flush, ive-day buckets. Break the per-key sequence at
    * gap breaks OR silent-batch flushes (lease = greatest(reach-ms +
    * flush, wm + 1) on the PREVIOUS interval; fixed length makes reach =
    * lag(ive)), group to episodes, emit all but each key's trailing
    * episode, which emits iff the final watermark flushes it (trailing
    * OPEN episodes stay in state).
    */
  private def episodesEtSql: String =
    etCtes(
      """user_id, epoch_us(ts) AS ivs, epoch_us(ts) + 7200000000 AS ive,
        |         (epoch_us(ts) + 7200000000) // 86400000000 AS b""".stripMargin,
      bmax = "ive", fin = true) + ",\n" +
      """r AS (
        |  SELECT ev.user_id, ev.ivs, ev.ive, bk.ord, w.wm, w.wmm1
        |  FROM ev JOIN bk USING (b) JOIN wmt w USING (ord)
        |),
        |flag AS (
        |  SELECT r.*,
        |    CASE WHEN lag(ive) OVER k IS NULL THEN 1
        |         WHEN (ord >= lag(ord) OVER k + 2
        |               AND wmm1 > greatest(lag(ive) OVER k // 1000 + 21600000,
        |                                   lag(wm) OVER k + 1))
        |           OR ivs > lag(ive) OVER k + 7200000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM r WINDOW k AS (PARTITION BY user_id ORDER BY ivs, ive)
        |),
        |seg AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ivs, ive) AS eid
        |  FROM flag
        |),
        |ep AS (
        |  SELECT user_id, eid, min(ivs) AS mstart, max(ive) AS mend,
        |         count(*) AS n_merged, max(ord) AS last_ord
        |  FROM seg GROUP BY user_id, eid
        |),
        |mx AS (SELECT user_id, max(eid) AS last_eid FROM ep GROUP BY user_id)
        |SELECT e.user_id, e.mstart, e.mend, e.n_merged
        |FROM ep e
        |JOIN mx USING (user_id)
        |JOIN wmt wl ON wl.ord = e.last_ord
        |CROSS JOIN fin
        |WHERE e.eid < mx.last_eid
        |   OR fin.final_wm > greatest(e.mend // 1000 + 21600000, wl.wm + 1)
        |ORDER BY user_id, mstart""".stripMargin
}
