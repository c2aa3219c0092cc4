package graft.fhir

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** FHIR Bundle ingest (SURVEY.md §2.1 S1–S3, §2.2 F1–F4).
  *
  * The reference reads one file at a time with pandas and accumulates rows
  * with per-row `pd.concat` (`json_pipeline.py:100-118, 59-94`). Here the
  * whole directory is ONE schema'd `json` scan — Spark lists and splits
  * files across executors — and the per-entry rowization is a single
  * `explode`, parsed once into a persisted frame ([[withParsedEntries]]).
  * The resourceType router becomes six filters over that frame.
  */
object BundleReader {

  /** S1+S2+S3: read every `*.json` under `path` (recursively — replacing
    * the reference's file-moving staging script `all_json_file.py`) as one
    * entry-level DataFrame with columns (fullUrl, resource.*).
    */
  def readEntries(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.bundleSchema)
      .option("multiLine", true)
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", true)
      .json(path)
      .select(explode(col("entry")).as("entry"))
      .select(col("entry.fullUrl").as("fullUrl"), col("entry.resource").as("resource"))

  /** [[readEntries]] plus malformed-input accounting: returns
    * (entries, corrupt) where `corrupt` is one row per unparseable file
    * (its path and raw prefix). The schema'd PERMISSIVE read sends any
    * JSON that fails to parse to a corrupt-record column instead of
    * killing the job — at 100 TB a single truncated upload must cost one
    * quarantined row, not the batch (the reference's `json.load` loop
    * dies on the first bad file). The corrupt side is a cheap second scan
    * of only-the-corrupt column; callers typically write it to a
    * quarantine sink.
    */
  def readEntriesWithCorrupt(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val withCorrupt = spark.read
      .schema(Schemas.bundleSchema.add("_corrupt_record", "string"))
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", true)
      .json(path)
      // capture the source file BEFORE caching — input_file_name() only
      // has a value while the file scan is the producing operator
      .withColumn("__file", input_file_name())
      // required: Spark refuses corrupt-column-only queries over raw JSON
      // (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and both
      // returned frames share this one scan anyway
      .cache()
    val entries = withCorrupt
      .filter(col("_corrupt_record").isNull)
      .select(explode(col("entry")).as("entry"))
      .select(col("entry.fullUrl").as("fullUrl"), col("entry.resource").as("resource"))
    val corrupt = withCorrupt
      .filter(col("_corrupt_record").isNotNull)
      .select(
        col("__file").as("file"),
        substring(col("_corrupt_record"), 1, 256).as("corrupt_prefix"))
    (entries, corrupt)
  }

  /** X1 — strip every literal `urn:uuid:` occurrence
    * (`json_pipeline.py:128-151`; pandas `str.replace` is literal +
    * all-occurrences, hence a literal-safe regexp_replace).
    */
  def stripUrnUuid(c: Column): Column = regexp_replace(c, lit("urn:uuid:"), lit(""))

  /** F4 — the synthetic FK. Parity form (`json_pipeline.py:63-78`):
    * Patient rows use their own id; others use `subject.reference`
    * stripped of the urn prefix — Encounter/Immunization carry
    * `patient.reference` instead, so theirs is null (documented quirk,
    * SURVEY.md §1.1).
    */
  def patientIdParity: Column =
    when(col("resource.resourceType") === "Patient", col("resource.id"))
      .otherwise(stripUrnUuid(col("resource.subject.reference")))

  /** F2 router — one filter per resource type over the shared entry scan.
    * Route over [[withParsedEntries]]' persisted frame, so the six routed
    * tables read memory and the JSON parse happens once.
    */
  def route(entries: DataFrame, fhirResourceType: String): DataFrame =
    entries.filter(col("resource.resourceType") === fhirResourceType)

  /** Ingest + normalize: entries with `fullUrl` / reference columns
    * stripped of `urn:uuid:` (`json_pipeline.py:122-153` clean_and_rename)
    * and the parity `patient_id` attached.
    */
  def normalizedEntries(spark: SparkSession, path: String): DataFrame =
    normalize(readEntries(spark, path))

  /** Parse once: [[normalizedEntries]] coalesced to [[parsePartitions]],
    * persisted through [[graft.CachedFrames.cached]] and materialized
    * (job description `fhir parse`) BEFORE `body` fans out over it —
    * concurrent branches over a cache that does not exist yet each
    * re-parse the whole directory. The frame is released when `body`
    * returns, so materialize inside `body` whatever it returns.
    */
  def withParsedEntries[T](spark: SparkSession, path: String)(body: DataFrame => T): T = {
    val scan = normalizedEntries(spark, path)
    val entries = graft.CachedFrames.cached(scan.coalesce(parsePartitions(scan)))
    try {
      graft.FanOut.described(spark.sparkContext, "fhir parse")(entries.count())
      body(entries)
    } finally graft.CachedFrames.release(entries)
  }

  /** Partitions for a persisted parse of `scan`: one per core, or one per
    * `spark.sql.files.maxPartitionBytes` of input files when that is more.
    * The scan pads every small file to `openCostInBytes` when it packs
    * splits (32 splits for 1,000 3-KB bundles on 4 cores), so each pass
    * over a persisted parse would otherwise launch mostly empty tasks.
    * `coalesce` never adds partitions: the scan's own count caps this.
    */
  private def parsePartitions(scan: DataFrame): Int = {
    val qe = scan.queryExecution
    val bytes = qe.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.sizeInBytes
        case _ => 0L
      }
    }.sum
    val perPartition = qe.sparkSession.sessionState.conf.filesMaxPartitionBytes
    math.max(qe.sparkSession.sparkContext.defaultParallelism,
      ((bytes + perPartition - 1) / perPartition).toInt)
  }

  /** Normalization applied to an already-read entry frame (exposed
    * separately so tests can inject in-memory bundles).
    */
  def normalize(entries: DataFrame): DataFrame =
    entries
      .withColumn("patient_id", patientIdParity)
      .withColumn("fullUrl", stripUrnUuid(col("fullUrl")))

  /** Staging compaction — the 100 TB answer to per-patient bundle files.
    * multiLine JSON is whole-file-per-record and unsplittable: every
    * downstream pass over a raw bundle directory re-pays listing + one
    * JSON parse per small file (a 1×/8× ingest probe measured the
    * small-files tax as sublinear but real). Compacting once to columnar parquet of
    * NORMALIZED entries makes every later read splittable, predicate/
    * projection-prunable (each extractor reads only its resource
    * branches), and ~10× smaller on the wire. Run it at ingest time —
    * the parse happens exactly once per file ever — and point the
    * pipeline at [[entriesFromCompacted]] afterwards; the routed
    * extraction is oblivious to which reader produced the frame.
    *
    * `partitions` sizes the output files (compaction that writes one
    * tiny parquet per input partition would recreate the problem it
    * solves).
    */
  def compactEntries(
      spark: SparkSession, bundleDir: String, outDir: String,
      partitions: Int = 0): Unit = {
    val entries = normalizedEntries(spark, bundleDir)
    val sized = if (partitions > 0) entries.repartition(partitions) else entries
    sized.write.mode("overwrite").parquet(outDir)
  }

  /** Read back a [[compactEntries]] staging area — schema-identical to
    * [[normalizedEntries]], so `Extractors.allTables` / `Cleaning.all`
    * compose unchanged on top of either.
    */
  def entriesFromCompacted(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
