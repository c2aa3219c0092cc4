package graft

import org.apache.spark.sql.functions._

/** Pins the verify-dump contracts:
  *
  * 1. SF-scoping — every SF-dependent dump path is keyed by the input
  *    dir, so two Verify runs at different SFs can never clobber the
  *    parquet the other's dumped oracle SQL reads (the schema_merge /
  *    band-dump landmine class, r16); and each declared dump names the
  *    gates whose oracle reads it, so a `SPARK_GRAFT_ONLY` run writes
  *    every dump its gates need.
  *
  * 2. Day provenance — the band dump's `d` column and the replay
  *    staging's ts bucket derive from ONE expression (etDocDay). The
  *    stream_neardup_et oracle reads `d` from the dump instead of
  *    re-deriving the wrapped int64 product in DuckDB, so if the two
  *    sides ever split (someone edits the replay's day hash without
  *    the band frame, or vice versa), the oracle would silently model
  *    a different timeline than the op replays — this makes that split
  *    a failing test by comparing the dump day against the ACTUAL ts
  *    the staged replay delivers, doc by doc.
  */
class VerifyDumpSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("SF-dependent dump dirs are distinct per input dir") {
    val dirs: Seq[String => String] =
      SparkEntry.dumps.map(d => d.dir _) :+ (SparkEntry.schemaMergeDumpDir _)
    dirs.foreach { f =>
      assert(f("/root/testdata/sf0.001") != f("/root/testdata/sf0.01"),
        "dump dir must be keyed by the input dir")
      // and stable for a given dir (the oracle SQL is dumped later in
      // the run and must resolve the same path the writer used)
      assert(f(sfDir) == f(sfDir))
    }
    // all live under distinct roots for one dir (no cross-op clobber)
    assert(dirs.map(_(sfDir)).distinct.size == dirs.size)
  }

  test("each declared dump is read by exactly the oracles of the gates it names") {
    val prior = SparkEntry.verifySfDir
    SparkEntry.verifySfDir = sfDir
    val oracles = try SparkEntry.oracleSql finally SparkEntry.verifySfDir = prior
    SparkEntry.dumps.foreach { d =>
      val readers = oracles.collect { case (g, sql) if sql.contains(d.dir(sfDir)) => g }.toSet
      assert(readers == d.gates.toSet, s"${d.name}: declared for ${d.gates}, read by $readers")
    }
  }

  test("schema_merge's oracle reads its snapshots under target/, not a per-JVM temp dir") {
    val prior = SparkEntry.verifySfDir
    SparkEntry.verifySfDir = sfDir
    val sql = try SparkEntry.oracleSql("schema_merge") finally SparkEntry.verifySfDir = prior
    val target = new java.io.File("target").getAbsolutePath
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getAbsolutePath
    assert(sql.contains(SparkEntry.schemaMergeDumpDir(sfDir)) && sql.contains(target + "/"))
    assert(!sql.contains(tmp + "/"), s"oracle SQL names a path under $tmp:\n$sql")
  }

  test("band dump day d ≡ the staged replay's delivered ts bucket, doc by doc") {
    assume(new java.io.File(sfDir, "documents.parquet").exists(), s"$sfDir missing")
    val bandDays = graft.streaming.StreamGates.neardupBandFrame(spark, sfDir)
      .select(col("doc_id"), col("d")).distinct()
    // drain the actual staged replay (the files the streaming gate
    // reads) and recover each doc's day from its delivered ts
    val name = "verify_dump_spec_etdocs"
    val q = graft.streaming.StreamGates.etDocsReplayStream(spark, sfDir)
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val replayDays = spark.table(name)
      .select(col("doc_id"),
        (col("ts") / lit(86_400_000_000L) - 1).cast("long").as("d_replay"))
      .distinct()
    // one day per doc on each side, and the days agree for every doc
    assert(bandDays.count() == bandDays.select("doc_id").distinct().count())
    assert(replayDays.count() == replayDays.select("doc_id").distinct().count())
    val joined = bandDays.join(replayDays, Seq("doc_id"), "full_outer")
    val divergent = joined
      .filter(col("d").isNull || col("d_replay").isNull ||
        col("d") =!= col("d_replay"))
      .limit(5).collect()
    assert(divergent.isEmpty,
      s"band-dump day diverged from the replay staging: ${divergent.mkString("; ")}")
  }
}
