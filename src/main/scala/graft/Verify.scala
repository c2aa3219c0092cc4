package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in an oracle SQL string would otherwise make
    * `oracle_sql.json` unparseable and drop every oracle comparison.
    * Bench's lines use it too.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Pin the SF-scoped oracle paths to THIS run's input before anything
    // dumps or runs: oracleSql is def-evaluated at the end of main, and
    // under SPARK_GRAFT_ONLY the provenance/schema_merge gates (the other
    // setters) may never execute.
    SparkEntry.verifySfDir = sfDir
    // Materialize the normalized FHIR entry rows once per run: the
    // fhir_*_oracle DuckDB SQL re-derives every cleaned table from this
    // parquet, so the oracle and the engine share one input.
    graft.fhir.FhirFixtures.dumpNormalizedEntries(spark)
    // ... and the scale-corpus ground truth: fhir_scale's oracle reads
    // ONLY this parquet (generator-predicted aggregates, no JSON parse).
    graft.fhir.FhirCorpus.dumpExpected(spark)
    // ... and the active PSL rule table, so psl_domains' oracle replays
    // the public-suffix algorithm against the SAME rules the engine uses.
    graft.ops.Domains.pslRulesFrame(spark)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.PslDumpDir)
    // ... and the trained PQ codebooks, so ann_pq/ann_pq_recall replay
    // encode + ADC + re-rank from the SAME tables the gates train.
    SparkEntry.pqCodebooks(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("subspace"),
        org.apache.spark.sql.functions.col("centroid_id"),
        org.apache.spark.sql.functions.col("__cent").as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.pqDumpDir(sfDir))
    // ... and the IVFADC residual codebooks, so ann_ivfpq/ann_ivfpq_recall
    // replay residual-encode + cell-term ADC + re-rank from the SAME
    // tables the gates serve (coarse training replays via ivfLloydCtes).
    SparkEntry.ivfpqCodebooks(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("subspace"),
        org.apache.spark.sql.functions.col("centroid_id"),
        org.apache.spark.sql.functions.col("__cent").as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.ivfpqDumpDir(sfDir))
    // ... and the corpus-learned BPE merge table, so bpe_learned_count's
    // greedy application gets a table-driven recursive-CTE oracle (the
    // trainer stays spec-pinned on the Sennrich worked example).
    locally {
      import spark.implicits._
      SparkEntry.bpeLearnedMerges(spark, sfDir).zipWithIndex
        .map { case ((l, r), rank) => (rank, l, r) }
        .toDF("rank", "l", "r")
        .coalesce(1).write.mode("overwrite").parquet(SparkEntry.bpeMergesDumpDir(sfDir))
    }
    // ... and the simhash signatures, so dedup_simhash's pair stage gets a
    // bit_count(xor()) oracle (the kernel stays spec-pinned).
    SparkEntry.simhashSignatures(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.simhashDumpDir(sfDir))
    // ... and the LSH band table, so stream_neardup_et's oracle replays
    // the per-bucket event-time lease chain (bridging included) exactly
    // from the SAME banded explode the streaming op runs.
    SparkEntry.neardupBandFrame(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.neardupBandsDumpDir(sfDir))
    // Guard the stream_neardup_et oracle's day-timeline assumption
    // (r17 ADVICE): the oracle derives the replay-day set from the band
    // dump, which drops band-less docs (null/too-short text →
    // minhash-null → posexplode drop). If an entire replay day held
    // ONLY band-less docs, the oracle's day-ordinal/watermark timeline
    // would silently diverge from the replay the op actually sees —
    // fail the dump loudly instead of assuming.
    locally {
      import org.apache.spark.sql.functions.col
      val allDays = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id").isNotNull)
        .select(SparkEntry.etDocDay(col("doc_id").cast("long")).as("d"))
        .distinct()
      val bandedDays = spark.read.parquet(SparkEntry.neardupBandsDumpDir(sfDir))
        .select(col("d")).distinct()
      val missing = allDays.except(bandedDays).collect()
      require(missing.isEmpty,
        "stream_neardup_et oracle day-coverage hole — replay days holding " +
          s"only band-less docs: ${missing.mkString(", ")}")
    }
    // ... and the LSH bucket keys, so ann_lsh's candidate join + exact
    // scoring + ranking get a DuckDB oracle (the plane kernel stays
    // spec-pinned).
    SparkEntry.lshKeyFrame(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.lshKeysDumpDir(sfDir))
    // ... and the ann_lsh_scaled corpus (base + planted near-copies) with
    // its selective-config keys, for that gate's recall oracle.
    SparkEntry.annLshScaledData(spark, sfDir)._1
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        graft.functions.lsh_keys(
          org.apache.spark.sql.functions.col("embedding"), 64, 10, 32).as("keys"))
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.scaledLshDumpDir(sfDir))
    // ... and the rolling/content fingerprints, so doc_fingerprint's
    // duplicate-group stage gets a window-function oracle (the hash
    // kernels stay spec-pinned).
    SparkEntry.fingerprintFrame(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.fingerprintDumpDir(sfDir))
    // ... and the per-doc deflate ratios, so compression_profile's
    // per-source aggregation gets an oracle (DuckDB has no deflate; the
    // ratio kernel stays spec-pinned).
    SparkEntry.compressionFrame(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(SparkEntry.compressionDumpDir(sfDir))
    // Dev-loop filter: SPARK_GRAFT_ONLY=name1,name2 runs a subset without
    // paying for the full registry. Unset (driver runs) = everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      // near-dup operators persist intermediates by design; drop them
      // between queries so they don't stack cache evictions. releaseAll
      // first, as in Bench.timeOne: clearCache alone leaves the
      // CachedFrames registry pinning every released Dataset's plan.
      graft.CachedFrames.releaseAll()
      spark.catalog.clearCache()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} gate(s) failed: ${failed.sorted.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
