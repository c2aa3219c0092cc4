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
    // Dev-loop filter: SPARK_GRAFT_ONLY=name1,name2 runs a subset without
    // paying for the full registry. Unset (driver runs) = everything.
    val only = Gate.onlyFromEnv("Verify", SparkEntry.queries.contains)
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
    def selected(gate: String) = only.forall(_.contains(gate))
    // ... and every SF-keyed frame an oracle reads (trained codebooks,
    // kernel outputs DuckDB cannot recompute), for the selected gates
    SparkEntry.dumps.filter(_.gates.exists(selected)).foreach { d =>
      d.frame(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(d.dir(sfDir))
      d.check(spark, sfDir)
    }
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => selected(name) }
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
