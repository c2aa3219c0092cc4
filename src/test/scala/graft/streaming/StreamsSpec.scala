package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files

class StreamsSpec extends SparkSpec {

  private def us(minutes: Long): Long = minutes * 60L * 1000000L

  test("dedupWithinWatermark drops duplicate keys inside the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    in.addData((1L, us(1), "click"), (1L, us(2), "click"), (2L, us(2), "view"), (1L, us(3), "click"))
    val events = Streams.withEventTime(
      in.toDF.toDF("user_id", "ts", "event_type"), "ts")
    val out = Streams.runToMemory(
      Streams.dedupWithinWatermark(events, "event_time", "10 minutes", Seq("user_id", "event_type")),
      "dedup_out")
    val rows = out.select("user_id", "event_type").as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "click"), (2L, "view")))
  }

  test("windowedCounts: tumbling window counts per event_type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    in.addData(
      (1L, us(1), "click"), (2L, us(2), "click"), (3L, us(3), "view"),
      (4L, us(11), "click"))
    val events = Streams.withEventTime(in.toDF.toDF("event_id", "ts", "event_type"), "ts")
    val out = Streams.runToMemory(
      Streams.windowedCounts(events, "event_time", "1 minute", "10 minutes", Seq("event_type")),
      "window_out", OutputMode.Complete())
    val rows = out
      .select(col("window.start").cast("long").as("w"), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(rows == Seq((0L, "click", 2L), (0L, "view", 1L), (600L, "click", 1L)))
  }

  test("update-mode counts: only changed keys emitted per trigger; upsert fold converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val counts = in.toDF.toDF("user_id")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val name = "upd_" + java.lang.Long.toHexString(System.nanoTime())
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      in.addData(1L, 1L, 2L); q.processAllAvailable()
      assert(spark.table(name).count() == 2L, "batch 1 emits both keys")
      in.addData(1L); q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long)].collect().toSeq.sorted
      // batch 2 emitted ONLY key 1 (key 2's count did not change) — the
      // per-trigger output Complete mode would have rewritten in full
      assert(rows == Seq((1L, 2L), (1L, 3L), (2L, 1L)), rows.toString)
      // running counts are monotone, so max-per-key IS the upsert fold a
      // KV/Delta sink applies — and it recovers the batch totals exactly
      val fin = spark.table(name).groupBy(col("user_id"))
        .agg(max(col("n_events"))).as[(Long, Long)].collect().toSet
      assert(fin == Set((1L, 3L), (2L, 1L)))
    } finally q.stop()
  }

  test("windowedValueHistogram + psiFromCounts: streaming drift ≡ batch psi per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // window 0: values 1,1,12 — window 1 (minute 10+): 12,25(overflow),-3(underflow)
    val in = MemoryStream[(Long, Double)]
    in.addData((us(1), 1.0), (us(2), 1.0), (us(3), 12.0),
      (us(11), 12.0), (us(12), 25.0), (us(13), -3.0))
    val events = Streams.withEventTime(in.toDF.toDF("ts", "value"), "ts")
    val sink = Streams.runToMemory(
      Streams.windowedValueHistogram(
        events, "event_time", "1 minute", "10 minutes", "value", 0.0, 20.0, 2),
      "drift_out_" + java.lang.Long.toHexString(System.nanoTime()),
      OutputMode.Complete())
      .select((col("window.start").cast("long") / 600).cast("long").as("win"),
        col("bin"), col("n"))
    // reference: the full value set, binned the same way
    val all = Seq(1.0, 1.0, 12.0, 12.0, 25.0, -3.0).toDF("value")
    val ref = graft.ops.Profiling.histogram(all, "value", 0.0, 20.0, 2)
    val got = graft.ops.Profiling.psiFromCounts(sink, ref, Seq("win"), 2)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    // batch psi of each window slice against the same reference must
    // agree cell-for-cell (same smoothing, same arithmetic)
    val w0 = graft.ops.Profiling.psi(all, Seq(1.0, 1.0, 12.0).toDF("value"), "value", 0.0, 20.0, 2)
      .as[(Long, Double, Double, Double)].collect().map(r => (0L, r._1, r._2, r._3, r._4))
    val w1 = graft.ops.Profiling.psi(all, Seq(12.0, 25.0, -3.0).toDF("value"), "value", 0.0, 20.0, 2)
      .as[(Long, Double, Double, Double)].collect().map(r => (1L, r._1, r._2, r._3, r._4))
    assert(got == (w0 ++ w1).toSet, s"got $got")
  }

  test("sessionWindows: 30-minute gap splits sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    in.addData((1L, us(0)), (1L, us(10)), (1L, us(60)), (2L, us(0)))
    val events = Streams.withEventTime(in.toDF.toDF("user_id", "ts"), "ts")
    val out = Streams.runToMemory(
      Streams.sessionWindows(events, "event_time", "1 minute", "30 minutes", Seq("user_id")),
      "session_out", OutputMode.Complete())
    val rows = out.select("user_id", "n_events").as[(Long, Long)].collect().toSeq.sorted
    assert(rows == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("runningUserStats: custom mapGroupsWithState accumulates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.UserEvent]
    val stats = Streams.runningUserStats(in.toDS())
    val q = stats.writeStream.format("memory").queryName("stats_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.UserEvent(1L, 10L, 2.0), Streams.UserEvent(1L, 11L, 3.0))
      q.processAllAvailable()
      in.addData(Streams.UserEvent(1L, 12L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("stats_out")
      .orderBy(desc("n_events")).as[Streams.UserStats].collect().head
    assert(last == Streams.UserStats(1L, 3L, 10.0, 12L))
  }

  test("latestState: newer rows upsert state across batches; late rows never regress it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    val q = Streams.latestState(in.toDS()).toDF()
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 100L, Some(1.0)),
        Streams.ObsEvent(1L, 11L, 200L, Some(2.0)))
      q.processAllAvailable()
      // batch 2: a NEWER row advances key 1; a LATE row (ts 50) must not
      // regress it; key 2 appears
      in.addData(Streams.ObsEvent(1L, 12L, 300L, Some(3.0)),
        Streams.ObsEvent(1L, 9L, 50L, None),
        Streams.ObsEvent(2L, 20L, 150L, Some(9.0)))
      q.processAllAvailable()
      // batch 3: ONLY late rows → state unchanged → key 1 emits NOTHING
      // (stale arrivals must not produce downstream churn)
      in.addData(Streams.ObsEvent(1L, 8L, 40L, Some(0.5)))
      q.processAllAvailable()
    } finally q.stop()
    // last emission per key is the final state: ties impossible (a key
    // emits at most once per batch, in batch order)
    val ems = spark.table("cdc_out")
      .as[Streams.KeyLatest].collect().toSeq
    val finalByKey = ems.zipWithIndex.groupBy(_._1.user_id)
      .map { case (k, v) => k -> v.maxBy(_._2)._1 }
    assert(finalByKey(1L) == Streams.KeyLatest(1L, 300L, 12L, Some(3.0)), finalByKey.toString)
    assert(finalByKey(2L) == Streams.KeyLatest(2L, 150L, 20L, Some(9.0)), finalByKey.toString)
    // key 1 emitted in batches 1 and 2 only (batch 3 changed nothing);
    // key 2 once — churn-free upsert feed
    assert(ems.count(_.user_id == 1L) == 2 && ems.count(_.user_id == 2L) == 1,
      ems.toString)
  }

  test("neardupCandidates: bucket-mates pair across AND within micro-batches, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different content with no shared shingles at all here"
    val in = MemoryStream[(Long, String)]
    val cands = Streams.neardupCandidates(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text", n = 3)
    val q = cands.toDF().writeStream.format("memory").queryName("nd_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, dup), (2L, dup)) // same batch: identical docs share every band
      q.processAllAvailable()
      in.addData((3L, dup), (4L, other)) // later batch: 3 pairs 1 AND 2 via state
      q.processAllAvailable()
      in.addData((3L, dup)) // re-delivery of a known id emits nothing new
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("nd_out").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
    // identical docs share all 32 bands — each pair emitted once per band
    val perBand = spark.table("nd_out").groupBy("id_a", "id_b").count()
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(perBand.values.toSet == Set(32L), perBand.toString)
  }

  // With a processing-time TTL armed, the engine schedules its own
  // no-data timeout-sweep batches and processAllAvailable's "no new
  // data" latch NEVER sets (FlatMapGroupsWithStateExec
  // .shouldRunAnotherBatch is unconditionally true) — so the TTL specs
  // poll the sink/progress to a deadline instead of waiting on it.
  // evaluate cond ONCE per poll into a var: some awaited states are
  // TRANSIENT (a state row that lives exactly one lease), so a final
  // `assert(cond)` re-evaluation would un-observe what the loop caught
  private def awaitTtl(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime < deadline) { Thread.sleep(100); ok = cond }
    assert(ok, s"not observed within ${timeoutMs} ms: $what")
  }

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.stateOperators.headOption)
      .map(_.numRowsTotal).getOrElse(-1L)

  test("latestState TTL: a dead key expires — state count drops and a later stale row re-enters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    val q = Streams.latestState(in.toDS(), ttl = Some("500 milliseconds")).toDF()
      .writeStream.format("memory").queryName("cdc_ttl_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 100L, Some(1.0)))
      awaitTtl("key 1 emitted") { spark.table("cdc_ttl_out").count() == 1L }
      // no more traffic: the lease lapses and the engine's own timeout
      // sweep evicts key 1 — the expiry IS a state-count drop (under
      // NoTimeout the count would stay 1 forever)
      awaitTtl("state count drops to 0 after the lease") { stateRows(q) == 0L }
      // a STALE row for the evicted key re-enters as a fresh winner —
      // impossible under NoTimeout (the no-TTL spec proves a stale batch
      // emits nothing), so this emission is direct evidence of removal
      in.addData(Streams.ObsEvent(1L, 8L, 40L, Some(0.5)))
      awaitTtl("stale row re-enters post-expiry") {
        spark.table("cdc_ttl_out").count() == 2L
      }
    } finally q.stop()
    val ems = spark.table("cdc_ttl_out").as[Streams.KeyLatest].collect().toSeq
    assert(ems.count(_.user_id == 1L) == 2, ems.toString)
    assert(ems.map(_.ts).toSet == Set(100L, 40L), ems.toString)
  }

  test("neardupCandidatesEventTime: bucket lease expires on the DATA clock, zero wall-clock wait") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val otherA = "completely different content with no shared shingles at all here"
    val otherB = "yet another unrelated passage whose trigrams overlap with nothing"
    val in = MemoryStream[(Long, String, Long)]
    val cands = Streams.neardupCandidatesEventTime(
      in.toDS().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      eventTimeTtl = java.time.Duration.ofSeconds(10))
    val q = cands.toDF().writeStream.format("memory").queryName("nd_et_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, dup, 10_000_000L)) // 10 s
      q.processAllAvailable()
      in.addData((2L, dup, 15_000_000L)) // 15 s: inside 1's lease -> pairs
      q.processAllAvailable()
      // advance the watermark FAR past the dup buckets' 25 s lease using
      // a disjoint-shingle doc (different buckets), then once more so the
      // quiet dup buckets see a timeout sweep with wm = 60 s
      in.addData((3L, otherA, 60_000_000L))
      q.processAllAvailable()
      in.addData((4L, otherB, 70_000_000L))
      q.processAllAvailable()
      // a NEW dup doc above the watermark: its buckets were evicted on
      // the data clock, so it must NOT pair with 1 or 2 — windowed
      // detection measured in event time (a processing-time lease would
      // have kept everything: this whole test runs in milliseconds)
      in.addData((5L, dup, 80_000_000L))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("nd_et_out").distinct().as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"evicted buckets must not pair: $pairs")
  }

  test("neardupCandidatesEventTime: a bridge member renews the bucket — chain semantics") {
    // The bucket lease rides the bucket's LATEST member, so a mid-silence
    // arrival (the "bridge") keeps the WHOLE member set pairable past the
    // lease the first member alone would have had: windowed detection is
    // per-bucket chains, not pairwise windows (the stream_neardup_et
    // oracle replays exactly this from the band dump).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val otherA = "completely different content with no shared shingles at all here"
    val otherB = "yet another unrelated passage whose trigrams overlap with nothing"
    val in = MemoryStream[(Long, String, Long)]
    val cands = Streams.neardupCandidatesEventTime(
      in.toDS().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      eventTimeTtl = java.time.Duration.ofSeconds(10))
    val q = cands.toDF().writeStream.format("memory").queryName("nd_bridge_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, dup, 10_000_000L)) // lease = 20 s
      q.processAllAvailable()
      in.addData((9L, otherA, 19_000_000L)) // wm 10 s < 20 s: bucket survives
      q.processAllAvailable()
      in.addData((2L, dup, 28_000_000L)) // the BRIDGE: wm 19 s < 20 s; lease -> 38 s
      q.processAllAvailable()
      in.addData((10L, otherB, 37_000_000L)) // wm 28 s < 38 s: bucket survives
      q.processAllAvailable()
      // 36 s of event time after doc 1 — over 3 leases past its solo
      // expiry — yet (1,3) emits, because the bridge renewed the bucket
      in.addData((3L, dup, 46_000_000L)) // wm 37 s < 38 s
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("nd_bridge_out").distinct().as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"the bridge must keep doc 1 pairable: $pairs")
  }

  test("neardupCandidates bucketTtl: expired buckets forget their members — detection is windowed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val in = MemoryStream[(Long, String)]
    val q = Streams.neardupCandidates(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text", n = 3,
      bucketTtl = Some("500 milliseconds")).toDF()
      .writeStream.format("memory").queryName("nd_ttl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, dup))
      awaitTtl("doc 1 seeds its band buckets") { stateRows(q) > 0L }
      awaitTtl("idle buckets expire to 0") { stateRows(q) == 0L }
      in.addData((2L, dup), (3L, dup)) // same-batch mates pair; doc 1 is forgotten
      awaitTtl("fresh pair emitted") {
        spark.table("nd_ttl_out").count() > 0L
      }
    } finally q.stop()
    val pairs = spark.table("nd_ttl_out").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 3L)),
      s"expired bucket must not pair with forgotten members: $pairs")
  }

  test("episodeState TTL: an idle key's open episode is FLUSHED downstream, then state drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.IntervalRow]
    val q = Streams.episodeState(in.toDS(), gap = 2L,
      ttl = Some("500 milliseconds")).toDF()
      .writeStream.format("memory").queryName("ep_ttl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.IntervalRow(1L, 0L, 10L))
      awaitTtl("open episode held in state, nothing emitted") {
        stateRows(q) == 1L && spark.table("ep_ttl_out").isEmpty
      }
      // idle past the lease: the open episode is FLUSHED (emitted), not
      // dropped, and the key's state removed
      awaitTtl("idle episode flushed downstream") {
        spark.table("ep_ttl_out").count() == 1L && stateRows(q) == 0L
      }
      val flushed = spark.table("ep_ttl_out").as[Streams.Episode].collect().toSeq
      assert(flushed == Seq(Streams.Episode(1L, 0L, 10L, 1L)), flushed.toString)
      // a LATER interval for key 1 opens a FRESH episode (state was
      // removed): it re-enters state and emits nothing new yet
      in.addData(Streams.IntervalRow(1L, 11L, 12L))
      awaitTtl("post-expiry interval opens fresh state") { stateRows(q) == 1L }
      assert(spark.table("ep_ttl_out").count() == 1L,
        "post-expiry interval must open a fresh episode, not extend the flushed one")
    } finally q.stop()
  }

  // transformWithState refuses the default HDFS-backed provider; scope
  // the RocksDB provider to the TWS tests and restore the session after
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState sharp edges: wrong-provider refusal is actionable; provider scope restores on exception") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    // on the DEFAULT (HDFS-backed) provider the query must refuse with
    // the incompatible provider NAMED (UNSUPPORTED_FEATURE.STATE_STORE_
    // MULTIPLE_COLUMN_FAMILIES names HDFSBackedStateStoreProvider) —
    // not fail obscurely mid-batch
    val in = MemoryStream[Streams.ObsEvent]
    val e = intercept[Exception] {
      val q = Streams.latestStateTws(in.toDS()).toDF()
        .writeStream.format("noop").outputMode(OutputMode.Update()).start()
      try { in.addData(Streams.ObsEvent(1L, 1L, 1L, None)); q.processAllAvailable() }
      finally q.stop()
    }
    assert(e.getMessage.contains("HDFSBackedStateStoreProvider"),
      s"refusal must name the incompatible provider: ${e.getMessage.take(300)}")
    // the scoping helper must restore the session provider even when
    // the body throws (a failed gate must not leak RocksDB onto
    // subsequent legacy streams)
    val prior = spark.conf.getOption(key)
    intercept[RuntimeException] {
      Streams.withRocksDbProvider(spark) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.getOption(key) == prior,
      "provider conf must be restored after an exception")
  }

  test("latestStateTws: transformWithState CDC on RocksDB — upserts and late-row no-churn match the legacy op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.latestStateTws(in.toDS()).toDF() // TimeMode.None: processAllAvailable is safe
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 100L, Some(1.0)),
          Streams.ObsEvent(1L, 11L, 200L, Some(2.0)))
        q.processAllAvailable()
        in.addData(Streams.ObsEvent(1L, 12L, 300L, Some(3.0)),
          Streams.ObsEvent(1L, 9L, 50L, None),
          Streams.ObsEvent(2L, 20L, 150L, Some(9.0)))
        q.processAllAvailable()
        in.addData(Streams.ObsEvent(1L, 8L, 40L, Some(0.5))) // all-late: no churn
        q.processAllAvailable()
      } finally q.stop()
      val ems = spark.table("tws_out").as[Streams.KeyLatest].collect().toSeq
      val finalByKey = ems.zipWithIndex.groupBy(_._1.user_id)
        .map { case (k, v) => k -> v.maxBy(_._2)._1 }
      assert(finalByKey(1L) == Streams.KeyLatest(1L, 300L, 12L, Some(3.0)), finalByKey.toString)
      assert(finalByKey(2L) == Streams.KeyLatest(2L, 150L, 20L, Some(9.0)), finalByKey.toString)
      assert(ems.count(_.user_id == 1L) == 2 && ems.count(_.user_id == 2L) == 1,
        ems.toString)
    }
  }

  test("latestStateTws native TTLConfig: an expired value reads as absent and a stale row re-enters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.latestStateTws(in.toDS(),
        ttl = Some(java.time.Duration.ofMillis(500))).toDF()
        .writeStream.format("memory").queryName("tws_ttl_out")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 100L, Some(1.0)))
        awaitTtl("key 1 emitted") { spark.table("tws_ttl_out").count() == 1L }
        Thread.sleep(1200) // value TTL (re-armed on update only) lapses
        // a STALE row re-enters as a fresh winner: the expired value
        // reads as absent in state — impossible under the no-TTL op
        in.addData(Streams.ObsEvent(1L, 8L, 40L, Some(0.5)))
        awaitTtl("stale row re-enters post-expiry") {
          spark.table("tws_ttl_out").count() == 2L
        }
      } finally q.stop()
      val ems = spark.table("tws_ttl_out").as[Streams.KeyLatest].collect().toSeq
      assert(ems.size == 2 && ems.map(_.ts).toSet == Set(100L, 40L), ems.toString)
    }
  }

  test("latestStateTws: RocksDB state survives a checkpointed restart — restored state suppresses stale rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = graft.TempRoots.create("tws_ckpt").toString
      val out = graft.TempRoots.create("tws_ckpt_sink").toString
      val in = MemoryStream[Streams.ObsEvent]
      // foreachBatch → append parquet: a RECOVERABLE sink (the memory
      // sink refuses checkpoint restart), accumulating every emission
      def start() = Streams.latestStateTws(in.toDS()).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
      def sink(): Seq[Streams.KeyLatest] =
        try spark.read.parquet(out).as[Streams.KeyLatest].collect().toSeq
        catch { case _: Throwable => Seq.empty }
      val q1 = start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 100L, Some(1.0)))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(sink() == Seq(Streams.KeyLatest(1L, 100L, 10L, Some(1.0))))
      // restart from the same checkpoint
      val q2 = start()
      try {
        // a LATE row is suppressed ONLY if the pre-restart winner
        // (ts 100) was restored from the RocksDB checkpoint
        in.addData(Streams.ObsEvent(1L, 9L, 50L, None))
        q2.processAllAvailable()
        assert(sink().size == 1,
          "restored state must suppress the stale row across restart")
        // and a genuinely newer row still advances it
        in.addData(Streams.ObsEvent(1L, 12L, 300L, Some(3.0)))
        q2.processAllAvailable()
        val ems = sink().sortBy(_.ts)
        assert(ems == Seq(
          Streams.KeyLatest(1L, 100L, 10L, Some(1.0)),
          Streams.KeyLatest(1L, 300L, 12L, Some(3.0))), ems.toString)
      } finally q2.stop()
    }
  }

  test("episodeStateTws eventTimeIdleFlush: the armed event-time timer survives a checkpointed restart and still fires") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = graft.TempRoots.create("eptws_ett_ckpt").toString
      val out = graft.TempRoots.create("eptws_ett_sink").toString
      val in = MemoryStream[Streams.IntervalRow]
      def start() = Streams.episodeStateTws(in.toDS(), gap = 2_000_000L,
        eventTimeIdleFlush = Some(java.time.Duration.ofSeconds(10))).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      def sink(): Seq[Streams.Episode] =
        try spark.read.parquet(out).as[Streams.Episode].collect().toSeq
        catch { case _: Throwable => Seq.empty }
      val q1 = start()
      try {
        // open an episode; its flush timer is armed at reach 10 s + 10 s
        in.addData(Streams.IntervalRow(1L, 0L, 10_000_000L))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(sink().isEmpty, "episode must still be open at shutdown")
      // restart from the checkpoint: the open episode AND its timer must
      // be restored — the 50 s batch advances the watermark past the
      // restored 20 s timer and the flush fires post-restart
      val q2 = start()
      try {
        in.addData(Streams.IntervalRow(2L, 50_000_000L, 55_000_000L))
        q2.processAllAvailable()
        assert(sink() == Seq(Streams.Episode(1L, 0L, 10_000_000L, 1L)),
          s"restored event-time timer must flush the restored episode: ${sink()}")
      } finally q2.stop()
    }
  }

  test("latestStateChangesTws: the tombstone timer survives a checkpointed restart and still emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val ckpt = graft.TempRoots.create("twschg_ckpt").toString
      val out = graft.TempRoots.create("twschg_sink").toString
      val in = MemoryStream[Streams.ObsEvent]
      def start() = Streams.latestStateChangesTws(in.toDS(),
        java.time.Duration.ofSeconds(10)).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
      def sink(): Seq[Streams.CdcChange] =
        try spark.read.parquet(out).as[Streams.CdcChange].collect().toSeq
        catch { case _: Throwable => Seq.empty }
      val q1 = start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // lease 20 s
        q1.processAllAvailable()
      } finally q1.stop()
      assert(sink().map(_.op) == Seq("upsert"), sink().toString)
      // restart: key 1's state AND its 20 s event-time timer must be
      // restored — the 50 s batch advances the watermark past it and
      // the tombstone (data, not cleanup) emits post-restart
      val q2 = start()
      try {
        in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0)))
        q2.processAllAvailable()
        val ems = sink().sortBy(c => (c.user_id, c.op))
        assert(ems.map(c => (c.user_id, c.op)) ==
          Seq((1L, "delete"), (1L, "upsert"), (2L, "upsert")), ems.toString)
        assert(ems.head == Streams.CdcChange(1L, 10_000_000L, 10L, Some(1.0), "delete"),
          s"restored timer must emit the restored winner as the tombstone: $ems")
      } finally q2.stop()
    }
  }

  test("neardupCandidatesTws: ListState buckets pair across and within batches, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      val other = "completely different content with no shared shingles at all here"
      val in = MemoryStream[(Long, String)]
      val q = Streams.neardupCandidatesTws(
        in.toDS().toDF("doc_id", "text"), "doc_id", "text", n = 3).toDF()
        .writeStream.format("memory").queryName("ndtws_out")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData((1L, dup), (2L, dup))
        q.processAllAvailable()
        in.addData((3L, dup), (4L, other))
        q.processAllAvailable()
        in.addData((3L, dup)) // re-delivery of a known id emits nothing new
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("ndtws_out").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
      val perBand = spark.table("ndtws_out").groupBy("id_a", "id_b").count()
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(perBand.values.toSet == Set(32L), perBand.toString)
    }
  }

  test("neardupCandidatesTws memberTtl: per-element expiry — old members are forgotten individually") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      val in = MemoryStream[(Long, String)]
      val q = Streams.neardupCandidatesTws(
        in.toDS().toDF("doc_id", "text"), "doc_id", "text", n = 3,
        memberTtl = Some(java.time.Duration.ofMillis(500))).toDF()
        .writeStream.format("memory").queryName("ndtws_ttl_out")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData((1L, dup))
        awaitTtl("doc 1 ingested (no pairs yet)") {
          Option(q.lastProgress).exists(_.numInputRows >= 0L) &&
            spark.table("ndtws_ttl_out").count() == 0L
        }
        Thread.sleep(1200) // doc 1's list elements expire individually
        in.addData((2L, dup), (3L, dup)) // pair with each other, not with 1
        awaitTtl("fresh same-batch pair emitted") {
          spark.table("ndtws_ttl_out").count() > 0L
        }
      } finally q.stop()
      val pairs = spark.table("ndtws_ttl_out").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((2L, 3L)),
        s"expired members must not pair: $pairs")
    }
  }

  test("episodeStateTws: closed episodes emit; timer flushes the idle open episode downstream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.IntervalRow]
      val q = Streams.episodeStateTws(in.toDS(), gap = 2L,
        idleFlush = Some(java.time.Duration.ofMillis(500))).toDF()
        .writeStream.format("memory").queryName("eptws_out")
        .outputMode(OutputMode.Append()).start()
      try {
        // a gap-breaking second interval CLOSES the first episode (the
        // batch-semantics half), the second stays open in state
        in.addData(Streams.IntervalRow(1L, 0L, 10L),
          Streams.IntervalRow(1L, 20L, 30L))
        awaitTtl("closed episode emitted") {
          spark.table("eptws_out").count() == 1L
        }
        assert(spark.table("eptws_out").as[Streams.Episode].head() ==
          Streams.Episode(1L, 0L, 10L, 1L))
        // then the flush timer fires on the idle key: the OPEN episode
        // (20, 30) is emitted too and state cleared
        awaitTtl("idle open episode flushed by timer") {
          spark.table("eptws_out").count() == 2L
        }
        val eps = spark.table("eptws_out").as[Streams.Episode].collect().toSet
        assert(eps == Set(Streams.Episode(1L, 0L, 10L, 1L),
          Streams.Episode(1L, 20L, 30L, 1L)), eps.toString)
      } finally q.stop()
    }
  }

  test("locfEnrich: (ts, event_id) order within a batch; carry crosses micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    val q = Streams.locfEnrich(in.toDS()).writeStream
      .format("memory").queryName("locf_out").outputMode(OutputMode.Append()).start()
    try {
      // arrival order scrambled vs event time: the batch must sort
      in.addData(
        Streams.ObsEvent(1L, 3L, us(3), None),
        Streams.ObsEvent(1L, 1L, us(1), Some(5.0)),
        Streams.ObsEvent(1L, 2L, us(2), None),
        Streams.ObsEvent(2L, 4L, us(1), None))
      q.processAllAvailable()
      // next batch: key 1's carry must come from per-key state
      in.addData(
        Streams.ObsEvent(1L, 5L, us(10), None),
        Streams.ObsEvent(2L, 6L, us(9), Some(7.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("locf_out")
      .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
    assert(rows == Map(
      1L -> Some(5.0), 2L -> Some(5.0), 3L -> Some(5.0), // in-batch carry, sorted
      4L -> None,                                        // key 2: nothing observed yet
      5L -> Some(5.0),                                   // cross-batch state carry
      6L -> Some(7.0)))                                  // own observation
  }

  test("locfEnrich/transitionsStateful TTL: idle keys forget their carry/marker") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // LOCF: after the lease lapses, the next event carries NOTHING
    val lin = MemoryStream[Streams.ObsEvent]
    val lq = Streams.locfEnrich(lin.toDS(), ttl = Some("500 milliseconds"))
      .writeStream.format("memory").queryName("locf_ttl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      lin.addData(Streams.ObsEvent(1L, 1L, 100L, Some(5.0)))
      awaitTtl("observation emitted with its own carry") {
        spark.table("locf_ttl_out").count() == 1L
      }
      Thread.sleep(1200)
      lin.addData(Streams.ObsEvent(1L, 2L, 200L, None))
      awaitTtl("post-expiry event emitted") {
        spark.table("locf_ttl_out").count() == 2L
      }
    } finally lq.stop()
    val carries = spark.table("locf_ttl_out")
      .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
    assert(carries(1L) == Some(5.0), carries.toString)
    assert(carries(2L) == None,
      s"expired key must forget its carry (None, not stale 5.0): $carries")
    // transitions: after the lease lapses, the next event starts a fresh
    // chain — NO pair with the stale predecessor
    val tin = MemoryStream[Streams.TypedEvent]
    val tq = Streams.transitionsStateful(tin.toDS(), ttl = Some("500 milliseconds"))
      .writeStream.format("memory").queryName("trans_ttl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      tin.addData(Streams.TypedEvent(1L, 1L, 100L, "login"))
      awaitTtl("marker armed (no pair yet)") {
        Option(tq.lastProgress).exists(_.stateOperators.headOption.exists(_.numRowsTotal == 1L))
      }
      awaitTtl("idle marker expires") {
        Option(tq.lastProgress).exists(_.stateOperators.headOption.exists(_.numRowsTotal == 0L))
      }
      tin.addData(Streams.TypedEvent(1L, 2L, 200L, "view"))
      awaitTtl("fresh chain opens") {
        Option(tq.lastProgress).exists(_.stateOperators.headOption.exists(_.numRowsTotal == 1L))
      }
    } finally tq.stop()
    assert(spark.table("trans_ttl_out").isEmpty,
      "post-expiry event must not pair with the stale predecessor")
  }

  test("locfEnrich/transitionsStateful eventTimeTtl: watermark advance forgets carry/marker, zero wall-clock wait") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // LOCF: the carry expires on the DATA's clock — no sleeps anywhere
    val lin = MemoryStream[Streams.ObsEvent]
    val lq = Streams.locfEnrich(lin.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(10)))
      .writeStream.format("memory").queryName("locf_ett_out")
      .outputMode(OutputMode.Append()).start()
    try {
      lin.addData(Streams.ObsEvent(1L, 1L, 10_000_000L, Some(5.0))) // 10 s
      lq.processAllAvailable()
      awaitTtl("carry stored") { stateRows(lq) == 1L }
      // one batch 40 s of event time later sweeps key 1's 20 s lease
      lin.addData(Streams.ObsEvent(2L, 2L, 50_000_000L, Some(2.0))) // 50 s
      lq.processAllAvailable()
      awaitTtl("watermark advance evicted key 1's carry") { stateRows(lq) == 1L }
      // key 1's next event (above the watermark) carries NOTHING
      lin.addData(Streams.ObsEvent(1L, 3L, 60_000_000L, None))
      lq.processAllAvailable()
      awaitTtl("post-expiry event emitted") {
        spark.table("locf_ett_out").count() == 3L
      }
    } finally lq.stop()
    val carries = spark.table("locf_ett_out")
      .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
    assert(carries(1L) == Some(5.0) && carries(2L) == Some(2.0), carries.toString)
    assert(carries(3L) == None,
      s"event-time-expired key must forget its carry: $carries")
    // transitions: the marker expires on the data's clock — the next
    // event starts a fresh chain, NO pair with the stale predecessor
    val tin = MemoryStream[Streams.TypedEvent]
    val tq = Streams.transitionsStateful(tin.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(10)))
      .writeStream.format("memory").queryName("trans_ett_out")
      .outputMode(OutputMode.Append()).start()
    try {
      tin.addData(Streams.TypedEvent(1L, 1L, 10_000_000L, "login"))
      tq.processAllAvailable()
      awaitTtl("marker armed (no pair yet)") { stateRows(tq) == 1L }
      tin.addData(Streams.TypedEvent(2L, 2L, 50_000_000L, "other"))
      tq.processAllAvailable()
      awaitTtl("watermark advance expired key 1's marker") { stateRows(tq) == 1L }
      tin.addData(Streams.TypedEvent(1L, 3L, 60_000_000L, "view"),
        Streams.TypedEvent(1L, 4L, 61_000_000L, "buy"))
      tq.processAllAvailable()
      awaitTtl("fresh chain pairs only within itself") {
        spark.table("trans_ett_out").count() == 1L
      }
    } finally tq.stop()
    val trans = spark.table("trans_ett_out").as[Streams.Transition].collect().toSeq
    assert(trans == Seq(Streams.Transition(1L, "view", "buy")),
      s"stale predecessor must not pair across the event-time lease: $trans")
  }

  test("streaming content dedup: custom fingerprint expression inside a watermarked stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    in.addData(
      (1L, us(1), "the same document text"),
      (2L, us(2), "the same document text"),     // exact dup of 1
      (3L, us(3), "a different document entirely"))
    val docs = Streams.withEventTime(in.toDF.toDF("doc_id", "ts", "text"), "ts")
      .withColumn("__fp", graft.functions.rolling_fingerprint(org.apache.spark.sql.functions.col("text")))
    val out = Streams.runToMemory(
      Streams.dedupWithinWatermark(docs, "event_time", "10 minutes", Seq("__fp")),
      "stream_dedup_out")
    val ids = out.select("doc_id").as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 3L), "near-time exact dup dropped by fingerprint key")
  }

  test("readBundleStream: file-source FHIR ingest matches batch reader") {
    val dir = graft.TempRoots.create("fhir_stream")
    val bundle =
      """{"resourceType":"Bundle","type":"collection","entry":[
        |{"fullUrl":"urn:uuid:p1","resource":{"resourceType":"Patient","id":"p1","gender":"male"}},
        |{"fullUrl":"urn:uuid:c1","resource":{"resourceType":"Condition","id":"c1",
        |  "subject":{"reference":"urn:uuid:p1"}}}
        |]}""".stripMargin
    Files.writeString(dir.resolve("b1.json"), bundle)
    val out = Streams.runToMemory(
      Streams.readBundleStream(spark, dir.toString), "bundle_out")
    import spark.implicits._
    val rows = out
      .select(col("fullUrl"), col("resource.resourceType"), col("patient_id"))
      .as[(String, String, String)].collect().toSeq.sorted
    assert(rows == Seq(("c1", "Condition", "p1"), ("p1", "Patient", "p1")))
  }

  test("readBundleStream: checkpointed restart ingests only NEW bundles, exactly once") {
    // the operational recovery contract: a crashed/stopped ingest
    // restarted with the SAME checkpoint must neither reprocess files
    // already committed (duplicate rows) nor skip files that arrived
    // while it was down
    val src = graft.TempRoots.create("fhir_ckpt_src")
    val out = graft.TempRoots.create("fhir_ckpt_out")
    val ckpt = graft.TempRoots.create("fhir_ckpt_loc")
    def bundle(pid: String) =
      s"""{"resourceType":"Bundle","type":"collection","entry":[
         |{"fullUrl":"urn:uuid:$pid","resource":{"resourceType":"Patient","id":"$pid","gender":"male"}}
         |]}""".stripMargin
    def runOnce(): Unit = {
      val q = Streams.readBundleStream(spark, src.toString)
        .select(col("fullUrl"), col("resource.resourceType").as("rt"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Files.writeString(src.resolve("b1.json"), bundle("p1"))
    Files.writeString(src.resolve("b2.json"), bundle("p2"))
    runOnce()
    import spark.implicits._
    val first = spark.read.parquet(out.toString)
      .select("fullUrl").as[String].collect().toSeq.sorted
    assert(first == Seq("p1", "p2"), first.toString)
    // downtime: two new bundles land
    Files.writeString(src.resolve("b3.json"), bundle("p3"))
    Files.writeString(src.resolve("b4.json"), bundle("p4"))
    runOnce()
    val all = spark.read.parquet(out.toString)
      .select("fullUrl").as[String].collect().toSeq
    assert(all.sorted == Seq("p1", "p2", "p3", "p4"),
      s"restart must add exactly the new bundles: $all")
    assert(all.distinct.size == all.size,
      s"no bundle may be reprocessed across the restart: $all")
  }

  test("intervalJoinStreams: clicks join same-user views inside the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vin = MemoryStream[(Long, Long, Long)] // user, view_id, ts
    val cin = MemoryStream[(Long, Long, Long)] // user, click_id, ts
    // base offset: rows whose event time EQUALS the initial watermark (0)
    // are dropped as late — epoch-0 data is a degenerate corner, so keep
    // test times strictly above it like any real corpus
    val d = 24L * 60
    vin.addData((1L, 10L, us(d)), (1L, 11L, us(d + 60)), (2L, 20L, us(d)))
    cin.addData(
      (1L, 100L, us(d + 20)),  // in window of view 10 (+20m)
      (1L, 101L, us(d + 70)),  // in window of BOTH views (10: +70m; 11: +10m)
      (2L, 200L, us(d + 200)), // outside view 20's 2h window
      (3L, 300L, us(d + 5)))   // no matching-user view
    val views = Streams.withEventTime(
      vin.toDF.toDF("user_id", "view_id", "ts"), "ts", "view_time").drop("ts")
    val clicks = Streams.withEventTime(
      cin.toDF.toDF("user_id", "click_id", "ts"), "ts", "click_time").drop("ts")
    val out = Streams.runToMemory(
      Streams.intervalJoinStreams(views, clicks, Seq("user_id"),
        "view_time", "click_time", watermark = "10 minutes", within = "2 hours")
        .select(col("view_id"), col("click_id")),
      "ssj_out")
    val pairs = out.as[(Long, Long)].collect().toSeq.sorted
    assert(pairs == Seq((10L, 100L), (10L, 101L), (11L, 101L)))
  }

  test("asofEnrichStatic: stream rows pick the latest at-or-before dim version, statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(
      (1L, us(0), "v1"), (1L, us(10), "v2"), (2L, us(5), "w1"))
      .toDF("user_id", "valid_from", "d_state")
    val in = MemoryStream[(Long, Long)]
    in.addData((1L, us(4)), (1L, us(10)), (1L, us(25)), (2L, us(1)), (3L, us(9)))
    val stream = in.toDF.toDF("user_id", "ts")
    val out = Streams.runToMemory(
      Streams.asofEnrichStatic(stream, dim, Seq("user_id"), "ts", "valid_from", Seq("d_state")),
      "asof_out")
    val rows = out.select("user_id", "ts", "d_state")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set(
      (1L, us(4), Some("v1")),   // before the v2 version opens
      (1L, us(10), Some("v2")),  // inclusive tie: the new version
      (1L, us(25), Some("v2")),
      (2L, us(1), None),         // dim's first version is later
      (3L, us(9), None)))        // key absent from the dim
    // a second batch arriving later still enriches (stateless re-plan)
    in.addData((1L, us(11)))
    Streams.runToMemory(
      Streams.asofEnrichStatic(stream, dim, Seq("user_id"), "ts", "valid_from", Seq("d_state")),
      "asof_out2")
    val again = spark.table("asof_out2").select("user_id", "ts", "d_state")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(again.contains((1L, us(11), Some("v2"))))
  }

  test("flagSeenInStatic: stream-static join flags history dups, null text never flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq("seen one", "seen two").toDF("text")
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "seen one"), (2L, "fresh"), (3L, "seen two"), (4L, null))
    val out = Streams.runToMemory(
      Streams.flagSeenInStatic(in.toDF.toDF("doc_id", "text"), "text", history, "text"),
      "seen_out")
    val rows = out.select("doc_id", "in_history").as[(Long, Boolean)].collect().toMap
    assert(rows == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("windowedQualityProfile: per-window exact counts match a batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two hourly windows × one group; second doc of window 0 fails Gopher
    // (token count 3 < 50), the long docs pass everything but stopwords —
    // so n_keep counts only docs with >= 2 stopwords among the long ones
    val longText = ("the and of words mixed " * 20).trim // 100 tokens, stopword-rich
    val shortText = "tiny doc here"
    val in = MemoryStream[(Long, String)]
    in.addData((0L, longText), (30L, shortText), (70L, longText), (80L, longText))
    val docs = in.toDF.toDF("doc_id", "text")
      .withColumn("event_time",
        timestamp_micros(col("doc_id") * lit(60000000L)))
    val out = Streams.runToMemory(
      Streams.windowedQualityProfile(docs, "event_time", "30 minutes", "1 hour",
        Nil, "text"),
      "quality_out", org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
      .select(unix_micros(col("window.start")).as("ws"), col("n_docs"),
        col("n_tokens"), col("n_keep"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (0L, 2L, 103L, 1L),
      (3600000000L, 2L, 200L, 2L)), s"got $out")
  }

  test("zscoreEnrichStatic: stream scores equal the batch groupZscores on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq(
      (1L, 1L, Some(1.0)), (2L, 1L, Some(2.0)), (3L, 1L, Some(3.0)),
      (4L, 2L, Some(5.0))
    ).toDF("event_id", "user_id", "value")
    val profile = graft.ops.Profiling.groupStats(history, "user_id", "value")
    val in = MemoryStream[(Long, Long, Option[Double])]
    in.addData((10L, 1L, Some(4.0)), (11L, 1L, None), (12L, 2L, Some(9.9)),
      (13L, 3L, Some(1.0)))
    val out = Streams.runToMemory(
      Streams.zscoreEnrichStatic(
        in.toDF.toDF("event_id", "user_id", "value"), "user_id", "value", profile),
      "zscore_out")
    val m = out.select("event_id", "group_n", "zscore")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // user 1 profile: mean 2, sd 1 -> z(4.0) = 2; null value scores null
    assert(m(10L) == ((3L, Some(2.0))), m.toString)
    assert(m(11L) == ((3L, None)), "null value keeps its row, no score")
    assert(m(12L) == ((1L, None)), "single-obs profile gives no verdict")
    assert(!m.contains(13L), "key absent from the profile is dropped (inner join)")
    // parity: batch scoring of the same stream rows through groupZscores'
    // shared definition gives identical results
    val streamRows = Seq(
      (10L, 1L, Some(4.0)), (11L, 1L, Option.empty[Double]),
      (12L, 2L, Some(9.9)), (13L, 3L, Some(1.0))
    ).toDF("event_id", "user_id", "value")
    val batch = graft.ops.Profiling
      .scoreAgainstStats(streamRows, "user_id", "value", profile)
      .select("event_id", "group_n", "zscore")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(batch == m, s"batch $batch vs stream $m")
  }

  test("transitionsStateful: state carries the previous event across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    // batch 1: user 1 sees a (ts 10) then b (ts 20) — order scrambled in
    // the batch to prove the in-batch sort; user 2 sees x only
    in.addData((1L, 101L, 20L, "b"), (1L, 100L, 10L, "a"), (2L, 200L, 5L, "x"))
    val ds = in.toDF.toDF("user_id", "event_id", "ts", "event_type")
      .as[Streams.TypedEvent]
    val out1 = Streams.runToMemory(
      Streams.transitionsStateful(ds).toDF(), "trans_out")
    val r1 = out1.as[(Long, String, String)].collect().toSet
    assert(r1 == Set((1L, "a", "b")), s"batch 1: $r1")
    // batch 2: the carried state (b for user 1, x for user 2) pairs with
    // the new arrivals
    in.addData((1L, 102L, 30L, "c"), (2L, 201L, 9L, "y"))
    Streams.runToMemory(Streams.transitionsStateful(ds).toDF(), "trans_out2")
    val r2 = spark.table("trans_out2").as[(Long, String, String)].collect().toSet
    assert(r2.contains((1L, "b", "c")) && r2.contains((2L, "x", "y")),
      s"cross-batch carry: $r2")
  }

  test("runningUserStats TTL: an idle user's totals expire — the next event counts from zero") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.UserEvent]
    val q = Streams.runningUserStats(in.toDS(), ttl = Some("500 milliseconds"))
      .toDF().writeStream.format("memory").queryName("stats_ttl_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.UserEvent(1L, 10L, 2.0), Streams.UserEvent(1L, 11L, 3.0))
      awaitTtl("running totals emitted") {
        spark.table("stats_ttl_out").count() == 1L
      }
      // idle past the lease: the totals are forgotten (state count drops)
      awaitTtl("idle user's state expires") { stateRows(q) == 0L }
      // the next event counts from ZERO — under NoTimeout it would
      // accumulate to n_events=3 / sum=10.0
      in.addData(Streams.UserEvent(1L, 12L, 5.0))
      awaitTtl("post-expiry event starts a fresh accumulation") {
        spark.table("stats_ttl_out").count() == 2L
      }
    } finally q.stop()
    val ems = spark.table("stats_ttl_out").as[Streams.UserStats].collect().toSeq
    assert(ems.contains(Streams.UserStats(1L, 2L, 5.0, 11L)), ems.toString)
    assert(ems.contains(Streams.UserStats(1L, 1L, 5.0, 12L)),
      s"fresh accumulation must start from zero: $ems")
  }

  test("locfEnrich TTL: an all-null batch with no prior carry leaves NO state row behind") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    // lease long enough that eviction can never explain an absent row —
    // absence proves the lease was never armed for the carry-less key
    val q = Streams.locfEnrich(in.toDS(), ttl = Some("10 minutes")).toDF()
      .writeStream.format("memory").queryName("locf_nostate_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 100L, None))
      awaitTtl("the null observation is emitted (carried = none)") {
        spark.table("locf_nostate_out").count() == 1L
      }
      // no carry was ever stored: the key must NOT hold an empty state
      // row that exists only to carry a timeout ("state lives only while
      // there is something to remember")
      awaitTtl("no state row for the carry-less key") { stateRows(q) == 0L }
      // ... while a real observation DOES store (and lease) the carry
      in.addData(Streams.ObsEvent(1L, 11L, 200L, Some(7.0)))
      awaitTtl("a non-null value stores the carry") { stateRows(q) == 1L }
    } finally q.stop()
    val ems = spark.table("locf_nostate_out").as[Streams.ObsCarry].collect().toSeq
    assert(ems.map(_.carried).toSet == Set(None, Some(7.0)), ems.toString)
  }

  test("latestState eventTimeTtl: watermark advance evicts a quiet key with ZERO wall-clock wait") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    // lease = 10 s of EVENT time; ts is epoch-micros
    val q = Streams.latestState(in.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(10))).toDF()
      .writeStream.format("memory").queryName("cdc_ett_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // 10 s
      q.processAllAvailable()
      awaitTtl("key 1 held in state") { stateRows(q) == 1L }
      // ONE batch 40 s of event time later: the watermark jumps past
      // key 1's 20 s lease and the very next timeout sweep evicts it —
      // no wall-clock sleep anywhere in this test (the data's clock,
      // not the machine's, is what expired the key)
      in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0))) // 50 s
      q.processAllAvailable()
      awaitTtl("watermark advance evicted key 1 (key 2 stays)") {
        stateRows(q) == 1L && spark.table("cdc_ett_out").count() == 2L
      }
    } finally q.stop()
    val ems = spark.table("cdc_ett_out").as[Streams.KeyLatest].collect().toSeq
    assert(ems.map(_.user_id).sorted == Seq(1L, 2L), ems.toString)
  }

  test("latestState eventTimeTtl: a fast wall-clock replay does NOT evict keys live in event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    // 100 s event-time lease, 60 s lateness tolerance (so a stale probe
    // row stays above the watermark)
    val q = Streams.latestState(in.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(100)),
      watermarkDelay = "60 seconds").toDF()
      .writeStream.format("memory").queryName("cdc_ett_live_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 200_000_000L, Some(1.0))) // 200 s
      q.processAllAvailable()
      // replay a burst of batches back-to-back — seconds of wall clock,
      // but the event times stay inside key 1's 300 s lease (watermark
      // tops out at 203 − 60 = 143 s). A processing-time lease of the
      // same magnitude would treat this replay as "no time passed at
      // all"; the event-time lease must agree here and disagree only
      // when the DATA goes quiet (previous test).
      for (i <- 1 to 3) {
        in.addData(Streams.ObsEvent(2L, 20L + i, (200L + i) * 1_000_000L, Some(2.0)))
        q.processAllAvailable()
      }
      awaitTtl("both keys live after the replay burst") { stateRows(q) == 2L }
      // direct evidence key 1's state survived: a STALE row (180 s —
      // above the 143 s watermark, below key 1's 200 s winner) is
      // SUPPRESSED, which only a live state row can do
      in.addData(Streams.ObsEvent(1L, 9L, 180_000_000L, Some(0.5)))
      q.processAllAvailable()
      // 1 emission for key 1 + 3 for key 2, and none for the stale row
      assert(spark.table("cdc_ett_live_out").count() == 4L)
    } finally q.stop()
    val ems = spark.table("cdc_ett_live_out").as[Streams.KeyLatest].collect().toSeq
    assert(ems.count(_.user_id == 1L) == 1 && ems.count(_.user_id == 2L) == 3,
      ems.toString)
    assert(!ems.exists(_.ts == 180_000_000L), "stale row must be suppressed")
  }

  test("stageEventTimeReplay: one file per ts bucket, ascending mtimes, lossless replay") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 5L, Some(1.0)), (1L, 2L, 105L, Some(2.0)),
      (2L, 3L, 210L, None: Option[Double]), (1L, 4L, 207L, Some(4.0)),
      (2L, 5L, 450L, Some(5.0)))
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val dir = Streams.stageEventTimeReplay(df, "ts", bucketUs = 100L)
    val files = new java.io.File(dir).listFiles().sortBy(_.getName)
    // buckets 0, 1, 2, 4 are non-empty -> 4 chunk files
    assert(files.length == 4, files.map(_.getName).mkString(","))
    assert(files.map(_.lastModified()).toSeq ==
      files.map(_.lastModified()).sorted.toSeq)
    assert(files.sliding(2).forall(p => p(0).lastModified() < p(1).lastModified()))
    // chunk i holds exactly bucket i's rows (event-time order), and the
    // one-file-per-trigger replay round-trips the frame losslessly
    val c0 = spark.read.parquet(files(0).getPath).as[Streams.ObsEvent].collect()
    assert(c0.map(_.event_id).toSeq == Seq(1L))
    val back = Streams.runToMemory(
      spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .parquet(dir).toDF(),
      "replay_out_" + java.lang.Long.toHexString(System.nanoTime()),
      availableNow = true)
    assert(back.as[(Long, Long, Long, Option[Double])].collect().toSet ==
      rows.toSet)
    // oversize input refuses rather than silently single-tasking it
    intercept[IllegalArgumentException] {
      Streams.stageEventTimeReplay(df, "ts", bucketUs = 100L, maxRows = 2L)
    }
    // a null event time has no bucket in an event-time replay: refuse
    // with the contract named, not a NumberFormatException out of a
    // Hive default-partition directory name
    val withNull = df.unionByName(
      Seq((9L, 9L, Option.empty[Long], Some(9.0)))
        .toDF("user_id", "event_id", "ts", "value"))
    val e = intercept[IllegalArgumentException] {
      Streams.stageEventTimeReplay(withNull, "ts", bucketUs = 100L)
    }
    assert(e.getMessage.contains("nulls"), e.getMessage)
  }

  test("runToMemory and drainWithCheckpointRestart log none of Spark's streaming start/stop WARNs") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val spy = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "streams-warn-spy", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    spy.start()
    ctx.getConfiguration.getRootLogger.addAppender(spy, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val df = (0L until 6L).map(i => (i % 2, i, i * 100L, i.toDouble))
        .toDF("user_id", "event_id", "ts", "value")
      val dir = Streams.stageEventTimeReplay(df, "ts", bucketUs = 100L)
      val replay = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(dir)
      assert(Streams.runToMemory(replay, "warn_spy_out", availableNow = true).count() == 6L)
      assert(Streams.drainWithCheckpointRestart(spark, dir, df.schema, 2)(identity).count() == 6L)
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(spy.getName)
      ctx.updateLoggers()
    }
    val noise = seen.toArray.map(_.toString).filter(m => Seq("Failed to cancel job group",
      "spark.sql.adaptive.enabled is not supported", "Disabling AQE").exists(m.contains))
    assert(noise.isEmpty, noise.mkString("\n"))
  }

  test("latestStateChanges: expiry emits a DELETE tombstone carrying the dying winner") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    val q = Streams.latestStateChanges(in.toDS(),
      java.time.Duration.ofSeconds(10)).toDF()
      .writeStream.format("memory").queryName("cdc_chg_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // 10 s
      q.processAllAvailable()
      awaitTtl("key 1 upserted and held") { stateRows(q) == 1L }
      // one batch 40 s of event time later: the watermark passes key 1's
      // 20 s lease — the eviction must FLOW THROUGH THE FEED as a delete
      // carrying exactly the version that died (ts/event_id/value), not
      // happen silently beside it
      in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0))) // 50 s
      q.processAllAvailable()
      awaitTtl("key 1 evicted (tombstone emitted), key 2 live") {
        stateRows(q) == 1L && spark.table("cdc_chg_out").count() == 3L
      }
    } finally q.stop()
    val ems = spark.table("cdc_chg_out").as[Streams.CdcChange].collect().toSeq
      .sortBy(c => (c.user_id, c.op))
    assert(ems.map(c => (c.user_id, c.op)) ==
      Seq((1L, "delete"), (1L, "upsert"), (2L, "upsert")), ems.toString)
    val dead = ems.find(c => c.op == "delete").get
    assert(dead == Streams.CdcChange(1L, 10_000_000L, 10L, Some(1.0), "delete"),
      s"tombstone must carry the dying winner: $dead")
  }

  test("latestStateChanges: live keys never tombstone; a stale row emits no churn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    // generous lease + lateness tolerance so nothing can expire here
    val q = Streams.latestStateChanges(in.toDS(),
      java.time.Duration.ofSeconds(1000), watermarkDelay = "60 seconds").toDF()
      .writeStream.format("memory").queryName("cdc_chg_live_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 10L, 200_000_000L, Some(1.0))) // 200 s
      q.processAllAvailable()
      in.addData(Streams.ObsEvent(1L, 11L, 250_000_000L, Some(2.0))) // new winner
      q.processAllAvailable()
      // stale-but-admissible row (180 s: above the 190 s-60 s watermark,
      // below the 250 s winner): suppressed — an upsert feed must never
      // regress, and no tombstone may appear for a live key
      in.addData(Streams.ObsEvent(1L, 9L, 180_000_000L, Some(0.5)))
      q.processAllAvailable()
      awaitTtl("exactly the two winner upserts") {
        spark.table("cdc_chg_live_out").count() == 2L
      }
    } finally q.stop()
    val ems = spark.table("cdc_chg_live_out").as[Streams.CdcChange].collect().toSeq
    assert(ems.forall(_.op == "upsert"), ems.toString)
    assert(ems.map(_.event_id).sorted == Seq(10L, 11L), ems.toString)
  }

  test("latestStateChangesTws: the event-time timer EMITS the tombstone (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.latestStateChangesTws(in.toDS(),
        java.time.Duration.ofSeconds(10)).toDF()
        .writeStream.format("memory").queryName("tws_chg_out")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // 10 s
        q.processAllAvailable()
        awaitTtl("key 1 upserted and held") { stateRows(q) == 1L }
        // one batch 40 s of event time later: the watermark passes key
        // 1's 20 s timer — handleExpiredTimer must emit the dying winner
        // as a delete through the feed, exactly like the legacy op
        in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0))) // 50 s
        q.processAllAvailable()
        awaitTtl("key 1 tombstoned, key 2 live") {
          stateRows(q) == 1L && spark.table("tws_chg_out").count() == 3L
        }
      } finally q.stop()
    }
    val ems = spark.table("tws_chg_out").as[Streams.CdcChange].collect().toSeq
      .sortBy(c => (c.user_id, c.op))
    assert(ems.map(c => (c.user_id, c.op)) ==
      Seq((1L, "delete"), (1L, "upsert"), (2L, "upsert")), ems.toString)
    val dead = ems.find(c => c.op == "delete").get
    assert(dead == Streams.CdcChange(1L, 10_000_000L, 10L, Some(1.0), "delete"),
      s"tombstone must carry the dying winner: $dead")
  }

  test("latestStateChangesTws Append mode: identical change feed (the file-sink restart path)") {
    // the r19 restart gate drains the feed through the fault-tolerant
    // FILE sink, whose contract is Append — the operator mode must not
    // change WHAT is emitted, only what TWS validates against. Same
    // replay as the Update test above; every row (both upserts and the
    // timer-emitted tombstone) must come through identically.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.latestStateChangesTws(in.toDS(),
        java.time.Duration.ofSeconds(10),
        outputMode = OutputMode.Append()).toDF()
        .writeStream.format("memory").queryName("tws_chg_app_out")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // 10 s
        q.processAllAvailable()
        in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0))) // 50 s
        q.processAllAvailable()
        awaitTtl("key 1 tombstoned, key 2 live") {
          spark.table("tws_chg_app_out").count() == 3L
        }
      } finally q.stop()
    }
    val ems = spark.table("tws_chg_app_out").as[Streams.CdcChange].collect().toSeq
      .sortBy(c => (c.user_id, c.op))
    assert(ems.map(c => (c.user_id, c.op)) ==
      Seq((1L, "delete"), (1L, "upsert"), (2L, "upsert")), ems.toString)
    assert(ems.head == Streams.CdcChange(1L, 10_000_000L, 10L, Some(1.0), "delete"),
      s"Append mode must carry the same dying winner: ${ems.head}")
  }

  test("latestStateTws eventTimeTtl: event-time timers clear state on watermark advance (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.latestStateTws(in.toDS(),
        eventTimeTtl = Some(java.time.Duration.ofSeconds(10))).toDF()
        .writeStream.format("memory").queryName("tws_ett_out")
        .outputMode(OutputMode.Update()).start()
      try {
        in.addData(Streams.ObsEvent(1L, 10L, 10_000_000L, Some(1.0))) // 10 s
        q.processAllAvailable()
        awaitTtl("key 1 emitted and held") {
          spark.table("tws_ett_out").count() == 1L
        }
        // the 50 s batch advances the watermark past key 1's 20 s timer:
        // the timer fires on the data's clock — zero wall-clock wait —
        // and clears key 1's value (eviction emits nothing: CDC contract)
        in.addData(Streams.ObsEvent(2L, 20L, 50_000_000L, Some(2.0)))
        q.processAllAvailable()
        awaitTtl("key 2 emitted") { spark.table("tws_ett_out").count() == 2L }
        // state-count metric proves the clear: only key 2's value remains
        awaitTtl("timer cleared key 1's value") { stateRows(q) == 1L }
      } finally q.stop()
      val ems = spark.table("tws_ett_out").as[Streams.KeyLatest].collect().toSeq
      assert(ems.map(_.user_id).sorted == Seq(1L, 2L), ems.toString)
    }
  }

  test("episodeState eventTimeIdleFlush: watermark advance flushes the open episode, zero wall-clock wait") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.IntervalRow]
    // idle gap = 10 s of EVENT time; ivs/ive are epoch-micros
    val q = Streams.episodeState(in.toDS(), gap = 2_000_000L,
      eventTimeIdleFlush = Some(java.time.Duration.ofSeconds(10))).toDF()
      .writeStream.format("memory").queryName("ep_ett_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.IntervalRow(1L, 0L, 10_000_000L)) // reach 10 s
      q.processAllAvailable()
      awaitTtl("open episode held, nothing emitted") {
        stateRows(q) == 1L && spark.table("ep_ett_out").isEmpty
      }
      // ONE batch 50 s of event time later: the watermark jumps past
      // key 1's 20 s flush point and the episode is EMITTED on the
      // data's clock — no wall-clock sleep anywhere in this test
      in.addData(Streams.IntervalRow(2L, 50_000_000L, 55_000_000L))
      q.processAllAvailable()
      awaitTtl("watermark advance flushed key 1's episode (key 2 stays open)") {
        spark.table("ep_ett_out").count() == 1L && stateRows(q) == 1L
      }
      val flushed = spark.table("ep_ett_out").as[Streams.Episode].collect().toSeq
      assert(flushed == Seq(Streams.Episode(1L, 0L, 10_000_000L, 1L)), flushed.toString)
      // a LATER key-1 interval opens a FRESH episode (state was removed)
      in.addData(Streams.IntervalRow(1L, 60_000_000L, 61_000_000L))
      q.processAllAvailable()
      awaitTtl("post-flush interval opens fresh state") { stateRows(q) == 2L }
      assert(spark.table("ep_ett_out").count() == 1L,
        "post-flush interval must open a fresh episode, not re-emit")
    } finally q.stop()
  }

  test("episodeStateTws eventTimeIdleFlush: event-time timer flushes the open episode (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.IntervalRow]
      val q = Streams.episodeStateTws(in.toDS(), gap = 2_000_000L,
        eventTimeIdleFlush = Some(java.time.Duration.ofSeconds(10))).toDF()
        .writeStream.format("memory").queryName("eptws_ett_out")
        .outputMode(OutputMode.Append()).start()
      try {
        in.addData(Streams.IntervalRow(1L, 0L, 10_000_000L))
        q.processAllAvailable()
        awaitTtl("open episode held, nothing emitted") {
          spark.table("eptws_ett_out").isEmpty
        }
        // the 50 s batch advances the watermark past key 1's 20 s
        // timer: it fires on the data's clock and EMITS the episode
        in.addData(Streams.IntervalRow(2L, 50_000_000L, 55_000_000L))
        q.processAllAvailable()
        awaitTtl("event-time timer flushed key 1's episode") {
          spark.table("eptws_ett_out").count() == 1L
        }
        val eps = spark.table("eptws_ett_out").as[Streams.Episode].collect().toSeq
        assert(eps == Seq(Streams.Episode(1L, 0L, 10_000_000L, 1L)), eps.toString)
      } finally q.stop()
    }
  }

  test("episode event-time flush must exceed the merge gap (batch-boundary determinism)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.IntervalRow]
    // gap = 10 s (micros), flush = 5 s: an episode could flush while
    // mergeable point intervals are still admissible — rejected up front
    val e1 = intercept[IllegalArgumentException] {
      Streams.episodeState(in.toDS(), gap = 10_000_000L,
        eventTimeIdleFlush = Some(java.time.Duration.ofSeconds(5)))
    }
    assert(e1.getMessage.contains("must exceed gap"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Streams.episodeStateTws(in.toDS(), gap = 10_000_000L,
        eventTimeIdleFlush = Some(java.time.Duration.ofSeconds(5)))
    }
    assert(e2.getMessage.contains("must exceed gap"), e2.getMessage)
  }

  test("locfEnrich eventTimeTtl: a LATE batch never regresses the lease (carry survives)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    // 20 s event-time lease, 60 s lateness tolerance so a late row is
    // admitted without advancing the watermark past the lease
    val q = Streams.locfEnrich(in.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(20)),
      watermarkDelay = "60 seconds")
      .writeStream.format("memory").queryName("locf_late_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 1L, 100_000_000L, Some(5.0))) // 100 s
      q.processAllAvailable()
      // a LATE all-null row (50 s — above the 40 s watermark, below the
      // carry's 100 s high-water mark). If the lease were re-armed from
      // the BATCH max (50 s + 20 s = 70 s), the next watermark advance
      // past 70 s would evict the carry; riding the key's latest event
      // time (100 s + 20 s = 120 s lease) it must survive
      in.addData(Streams.ObsEvent(1L, 2L, 50_000_000L, None))
      q.processAllAvailable()
      // advance the watermark to 115 − 60 = 55 s... not enough; use a
      // probe key to push it to 175 − 60 = 115 s: past the would-be
      // regressed 70 s lease, inside the correct 120 s one
      in.addData(Streams.ObsEvent(2L, 3L, 175_000_000L, Some(9.9)))
      q.processAllAvailable()
      awaitTtl("both keys still in state (no regression eviction)") {
        stateRows(q) == 2L
      }
      // direct evidence: key 1's next event still carries 5.0
      in.addData(Streams.ObsEvent(1L, 4L, 118_000_000L, None))
      q.processAllAvailable()
      awaitTtl("post-late-batch event emitted") {
        spark.table("locf_late_out").count() == 4L
      }
    } finally q.stop()
    val carries = spark.table("locf_late_out")
      .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
    assert(carries(4L) == Some(5.0),
      s"late batch must not regress the event-time lease: $carries")
  }

  test("locfEnrich eventTimeTtl is ORDER-CORRECT: a late observation neither overrides a newer carry nor sees its own future") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ObsEvent]
    val q = Streams.locfEnrich(in.toDS(),
      eventTimeTtl = Some(java.time.Duration.ofSeconds(200)),
      watermarkDelay = "60 seconds")
      .writeStream.format("memory").queryName("locf_order_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.ObsEvent(1L, 1L, 100_000_000L, Some(5.0))) // 100 s
      q.processAllAvailable()
      // a LATE batch (admissible above the 40 s watermark): a non-null
      // observation at 50 s and a null probe at 60 s. The 50 s obs must
      // NOT override the newer 100 s carry, and both late rows must be
      // scored against observations at-or-before THEIR OWN time — the
      // 60 s probe sees the 50 s value (7.0), never the future 5.0
      in.addData(
        Streams.ObsEvent(1L, 2L, 50_000_000L, Some(7.0)),
        Streams.ObsEvent(1L, 3L, 60_000_000L, None))
      q.processAllAvailable()
      // the carry the NEXT in-order event sees is still the 100 s one
      in.addData(Streams.ObsEvent(1L, 4L, 110_000_000L, None))
      q.processAllAvailable()
      awaitTtl("all four rows emitted") {
        spark.table("locf_order_out").count() == 4L
      }
    } finally q.stop()
    val carries = spark.table("locf_order_out")
      .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
    assert(carries(1L) == Some(5.0), carries.toString)
    assert(carries(2L) == Some(7.0), s"own observation carries itself: $carries")
    assert(carries(3L) == Some(7.0),
      s"late null probe must see the 50 s obs, not the future 100 s one: $carries")
    assert(carries(4L) == Some(5.0),
      s"late obs must not override the newer carry: $carries")
  }

  test("transitionsStateful is ORDER-CORRECT across batches: a late row neither pairs with a future marker nor hijacks the chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.transitionsStateful(in.toDS())
      .writeStream.format("memory").queryName("trans_order_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.TypedEvent(1L, 2L, 100_000_000L, "login"))
      q.processAllAvailable()
      // a LATE row at 50 s: its true predecessor was never seen, so it
      // pairs with NOTHING (the old fold would emit login→early, a
      // FUTURE event's type onto an older row)
      in.addData(Streams.TypedEvent(1L, 1L, 50_000_000L, "early"))
      q.processAllAvailable()
      // the next in-order event pairs with the 100 s marker (the old
      // fold would have hijacked the chain: early→view)
      in.addData(Streams.TypedEvent(1L, 3L, 110_000_000L, "view"))
      q.processAllAvailable()
      awaitTtl("exactly one pair emitted") {
        spark.table("trans_order_out").count() == 1L
      }
    } finally q.stop()
    val trans = spark.table("trans_order_out").as[Streams.Transition].collect().toSeq
    assert(trans == Seq(Streams.Transition(1L, "login", "view")), trans.toString)
  }

  test("transitionsStateful: an at-least-once redelivery never pairs an event with itself") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.transitionsStateful(in.toDS())
      .writeStream.format("memory").queryName("trans_redeliver_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Streams.TypedEvent(1L, 1L, 100L, "login"))
      q.processAllAvailable()
      // the SAME event redelivered across a batch boundary: the stored
      // marker IS this event — no login→login self-transition
      in.addData(Streams.TypedEvent(1L, 1L, 100L, "login"))
      q.processAllAvailable()
      // and redelivered within one batch (duplicate rows)
      in.addData(Streams.TypedEvent(2L, 5L, 200L, "view"),
        Streams.TypedEvent(2L, 5L, 200L, "view"))
      q.processAllAvailable()
      // a genuinely next event still pairs
      in.addData(Streams.TypedEvent(1L, 2L, 300L, "buy"))
      q.processAllAvailable()
      awaitTtl("only the genuine pair emitted") {
        spark.table("trans_redeliver_out").count() == 1L
      }
    } finally q.stop()
    val trans = spark.table("trans_redeliver_out").as[Streams.Transition].collect().toSeq
    assert(trans == Seq(Streams.Transition(1L, "login", "buy")), trans.toString)
  }

  test("locfEnrichTws/transitionsStatefulTws eventTimeTtl: data-clock timers clear carry/marker (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      // LOCF: carry forgotten after 10 s of EVENT-time silence
      val lin = MemoryStream[Streams.ObsEvent]
      val lq = Streams.locfEnrichTws(lin.toDS(),
        eventTimeTtl = Some(java.time.Duration.ofSeconds(10))).toDF()
        .writeStream.format("memory").queryName("locf_tws_ett_out")
        .outputMode(OutputMode.Append()).start()
      try {
        lin.addData(Streams.ObsEvent(1L, 1L, 10_000_000L, Some(5.0))) // 10 s
        lq.processAllAvailable()
        lin.addData(Streams.ObsEvent(2L, 2L, 50_000_000L, Some(2.0))) // 50 s
        lq.processAllAvailable()
        // key 1's timer (20 s) fired on the watermark advance; its next
        // event (above the watermark) must carry NOTHING
        lin.addData(Streams.ObsEvent(1L, 3L, 60_000_000L, None))
        lq.processAllAvailable()
        awaitTtl("post-expiry event emitted") {
          spark.table("locf_tws_ett_out").count() == 3L
        }
      } finally lq.stop()
      val carries = spark.table("locf_tws_ett_out")
        .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
      assert(carries(1L) == Some(5.0) && carries(3L) == None, carries.toString)
      // transitions: marker forgotten — fresh chain, no stale pair
      val tin = MemoryStream[Streams.TypedEvent]
      val tq = Streams.transitionsStatefulTws(tin.toDS(),
        eventTimeTtl = Some(java.time.Duration.ofSeconds(10))).toDF()
        .writeStream.format("memory").queryName("trans_tws_ett_out")
        .outputMode(OutputMode.Append()).start()
      try {
        tin.addData(Streams.TypedEvent(1L, 1L, 10_000_000L, "login"))
        tq.processAllAvailable()
        tin.addData(Streams.TypedEvent(2L, 2L, 50_000_000L, "other"))
        tq.processAllAvailable()
        tin.addData(Streams.TypedEvent(1L, 3L, 60_000_000L, "view"),
          Streams.TypedEvent(1L, 4L, 61_000_000L, "buy"))
        tq.processAllAvailable()
        awaitTtl("fresh chain pairs only within itself") {
          spark.table("trans_tws_ett_out").count() == 1L
        }
      } finally tq.stop()
      val trans = spark.table("trans_tws_ett_out").as[Streams.Transition].collect().toSeq
      assert(trans == Seq(Streams.Transition(1L, "view", "buy")), trans.toString)
    }
  }

  test("locfEnrichTws: carry crosses batches on RocksDB, matching the legacy op; value TTL forgets it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Streams.ObsEvent]
      val q = Streams.locfEnrichTws(in.toDS()).toDF()
        .writeStream.format("memory").queryName("locf_tws_out")
        .outputMode(OutputMode.Append()).start()
      try {
        // same scrambled input as the legacy test: in-batch sort + carry
        in.addData(
          Streams.ObsEvent(1L, 3L, us(3), None),
          Streams.ObsEvent(1L, 1L, us(1), Some(5.0)),
          Streams.ObsEvent(1L, 2L, us(2), None),
          Streams.ObsEvent(2L, 4L, us(1), None))
        q.processAllAvailable()
        in.addData(
          Streams.ObsEvent(1L, 5L, us(10), None),
          Streams.ObsEvent(2L, 6L, us(9), Some(7.0)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("locf_tws_out")
        .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
      assert(rows == Map(
        1L -> Some(5.0), 2L -> Some(5.0), 3L -> Some(5.0),
        4L -> None, 5L -> Some(5.0), 6L -> Some(7.0)),
        s"must match the legacy locfEnrich answer exactly: $rows")
      // native value TTL: the carry expires after idle silence — the
      // next event reads it as absent (honest "nothing observed")
      val tin = MemoryStream[Streams.ObsEvent]
      val tq = Streams.locfEnrichTws(tin.toDS(),
        ttl = Some(java.time.Duration.ofMillis(500))).toDF()
        .writeStream.format("memory").queryName("locf_tws_ttl_out")
        .outputMode(OutputMode.Append()).start()
      try {
        tin.addData(Streams.ObsEvent(1L, 1L, 100L, Some(5.0)))
        awaitTtl("observation emitted with its own carry") {
          spark.table("locf_tws_ttl_out").count() == 1L
        }
        Thread.sleep(1200)
        tin.addData(Streams.ObsEvent(1L, 2L, 200L, None))
        awaitTtl("post-expiry event emitted") {
          spark.table("locf_tws_ttl_out").count() == 2L
        }
      } finally tq.stop()
      val carries = spark.table("locf_tws_ttl_out")
        .select("event_id", "carried").as[(Long, Option[Double])].collect().toMap
      assert(carries(1L) == Some(5.0) && carries(2L) == None,
        s"expired carry must read as absent: $carries")
    }
  }

  test("transitionsStatefulTws: previous-event marker crosses batches on RocksDB, matching the legacy op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[(Long, Long, Long, String)]
      // same shape as the legacy test: scrambled batch 1, then carries
      in.addData((1L, 101L, 20L, "b"), (1L, 100L, 10L, "a"), (2L, 200L, 5L, "x"))
      val ds = in.toDF.toDF("user_id", "event_id", "ts", "event_type")
        .as[Streams.TypedEvent]
      val out1 = Streams.runToMemory(
        Streams.transitionsStatefulTws(ds).toDF(), "trans_tws_out")
      val r1 = out1.as[(Long, String, String)].collect().toSet
      assert(r1 == Set((1L, "a", "b")), s"batch 1: $r1")
      in.addData((1L, 102L, 30L, "c"), (2L, 201L, 9L, "y"))
      Streams.runToMemory(Streams.transitionsStatefulTws(ds).toDF(), "trans_tws_out2")
      val r2 = spark.table("trans_tws_out2").as[(Long, String, String)].collect().toSet
      assert(r2.contains((1L, "b", "c")) && r2.contains((2L, "x", "y")),
        s"cross-batch carry: $r2")
    }
  }

  test("episodeState: closed episodes emit, the trailing open episode stays in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    // user 1 scrambled in-batch: (0,10) absorbs nested (5,8); (12,15)
    // breaks the gap=1 tolerance (12 > 10+1) and closes the first.
    // user 2: zero-length (3,3) closes against (4,8) at gap=1? 4 <= 3+1
    // → extends instead (touch-plus-gap), so nothing emits for user 2.
    in.addData((1L, 12L, 15L), (1L, 0L, 10L), (1L, 5L, 8L), (2L, 3L, 3L), (2L, 4L, 8L))
    val ds = in.toDF.toDF("user_id", "ivs", "ive").as[Streams.IntervalRow]
    val out1 = Streams.runToMemory(
      Streams.episodeState(ds, gap = 1L).toDF(), "epi_out")
    val r1 = out1.as[(Long, Long, Long, Long)].collect().toSet
    assert(r1 == Set((1L, 0L, 10L, 2L)), s"batch 1: $r1")
    // second pass replays all data plus extenders/breakers: (16,20)
    // extends user 1's open (12,15); (30,31) closes the extended run
    in.addData((1L, 16L, 20L), (1L, 30L, 31L))
    Streams.runToMemory(Streams.episodeState(ds, gap = 1L).toDF(), "epi_out2")
    val r2 = spark.table("epi_out2").as[(Long, Long, Long, Long)].collect().toSet
    assert(r2 == Set((1L, 0L, 10L, 2L), (1L, 12L, 20L, 2L)), s"after batch 2: $r2")
  }
}
