package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev probe: prices the `stream_*_et` gates' micro-batch overhead —
  * the evidence behind the pinned replay design (9-day prefix r19
  * (12-day through r18), 1-day
  * buckets, statePartitions=2). Times locfEnrich(eventTimeTtl) over
  * the staged replay while varying the state partition count, the
  * replay bucket width, and the replay prefix length. Measured r15
  * (sf0.1, min of 3): full-range day-buckets parts=8 ≈ 10.5 s (the
  * r15 gate cost pre-fix), parts=2 ≈ 8 s, parts=1 ≈ 7.3 s; 2-day
  * buckets parts=2 ≈ 4.3 s but gut eviction power at the correctness
  * SF (sf0.01 changed-carries 110 → 10, sf0.001 → 0, et_sim.py);
  * the pinned day-bucket parts=2 design with the r18 12-day prefix
  * ≈ 4 s with 95 evictions at sf0.01 (the r19 9-day prefix keeps 68) — per-micro-batch fixed cost (~300 ms:
  * per-trigger planning + offset/commit log + state commit) dominates,
  * so batch COUNT is the lever, and trimming the replay prefix keeps
  * day-granularity silences (common) where coarser buckets would
  * require week-scale silences (rare).
  *
  * MIRROR CONTRACT: `stage()` deliberately re-derives the gate staging
  * (cutoff arithmetic, the event_id % 3 nullify, the four-field read
  * schema) instead of calling [[SparkEntry.etReplayStream]] — the probe
  * exists to vary the parameters the gate PINS, so parameterizing the
  * production path with probe-only knobs would widen the gate surface
  * for a dev tool. The drift risk that mirroring carries is PINNED by
  * test (r15 verdict/ADVICE): the "daypfx" case reads the prefix length
  * through [[SparkEntry.EtReplayDays]] (the knob cannot silently
  * diverge), and EtProbeSpec stages both this mirror and the gate's own
  * [[SparkEntry.etReplayChunkDir]] on sf0.001 and asserts chunk-count
  * and per-chunk row-multiset equality.
  */
object EtProbe {
  /** The probe's independently-derived staging — see the mirror
    * contract above. `days = Long.MaxValue` stages the full ts range.
    */
  private[graft] def stage(spark: SparkSession, sfDir: String,
      bucketUs: Long, days: Long = Long.MaxValue): String = {
    val all = SparkEntry.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val cutoff =
      if (days == Long.MaxValue) Long.MaxValue
      else (all.agg(min(col("ts"))).head.getLong(0) / 86_400_000_000L + days) *
        86_400_000_000L
    val base = all
      .filter(col("ts") < lit(cutoff))
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_id") % 3 === 0, lit(null))
          .otherwise(col("value").cast("double")).as("value"))
    graft.streaming.Streams.stageEventTimeReplay(base, "ts", bucketUs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(32)
    import spark.implicits._

    def stage(bucketUs: Long, days: Long = Long.MaxValue): String =
      EtProbe.stage(spark, sfDir, bucketUs, days)
    def read(chunks: String) = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("ts", LongType), StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(chunks)
      .as[graft.streaming.Streams.ObsEvent]

    def run(chunks: String, parts: Int, label: String): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val name = s"etprobe_${label}_$i" + java.lang.Long.toHexString(System.nanoTime())
        val out = graft.streaming.Streams.runToMemory(
          graft.streaming.Streams.locfEnrich(read(chunks),
            eventTimeTtl = Some(java.time.Duration.ofHours(6))).toDF(),
          name, statePartitions = Some(parts), availableNow = true)
        val n = out.count()
        println(f"PROBE $label parts=$parts run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      }
    }

    val day = stage(86_400_000_000L)
    run(day, 8, "day")
    run(day, 2, "day")
    run(day, 1, "day")
    val twoDay = stage(2 * 86_400_000_000L)
    run(twoDay, 8, "twoday")
    run(twoDay, 2, "twoday")
    // the pinned gate design: prefix length read through the gate's own
    // knob, so the probe cannot price a stale prefix
    val daypfx = stage(86_400_000_000L, days = SparkEntry.EtReplayDays)
    run(daypfx, 2, "daypfx")
    spark.stop()
  }
}
