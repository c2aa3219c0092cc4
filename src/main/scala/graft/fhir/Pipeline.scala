package graft.fhir

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{CachedFrames, FanOut}
import graft.quality.{FhirQuality, QualityChecker}
import graft.quality.QualityChecker.PredicateError
import graft.sinks.Sinks

/** End-to-end FHIR pipeline — the engine's equivalent of the reference's
  * whole program (`json_pipeline.py` Entry A + the Airflow DAG's intended
  * semantics, SURVEY.md §3): ingest → per-resource extraction → initial
  * quality check → per-table cleaning → final quality check → sinks.
  *
  * The reference runs 19 Airflow tasks that each re-execute the import-time
  * pipeline (SURVEY.md §3.2). Here [[run]] is eager and pays each step
  * once: ONE parse of the bundle directory into a persisted entry frame,
  * then ONE task per table (the six concurrently, [[graft.FanOut]]) that
  * persists the raw table, collects its initial QC battery, persists the
  * cleaned table, collects its final battery and releases the raw one.
  * The cleaning accounting is a handful of extra sums in those two
  * batteries. The wide nested entry frame is dropped before [[run]]
  * returns; only the six narrow cleaned tables stay in memory for the
  * caller's sinks.
  */
object Pipeline {

  /** G6 — the reference's per-table cleaning accounting
    * (`json_pipeline.py:536-559` before/after prints;
    * `data_quality_checker.py:326-331` removed/filled/updated stats):
    * `rows_before`, `rows_after` and `rows_removed`; for a table with a
    * null-key drop ([[Cleaning.DropKeys]]) the removal split
    * `rows_removed_null_keys` / `rows_removed_dedup`; for patient the
    * reference's `filled_values` and `updated_booleans`. The counts are
    * extra sums of the table's QC batteries, so they cost no pass of
    * their own.
    */
  final case class TableAccounting(table: String, summary: Map[String, Long])

  final case class Result(
      tables: Map[String, DataFrame],
      initialQuality: DataFrame,
      finalQuality: DataFrame,
      accounting: Map[String, TableAccounting])

  /** Run ingest → extract → QC → clean → QC, eagerly. Returns the six
    * cleaned tables persisted (through [[graft.CachedFrames.cached]]) and
    * materialized, so the caller's sinks read memory — release them with
    * [[graft.CachedFrames.release]] once written, as [[runToDir]] does;
    * the two QC summaries as local frames of at most 20 rows in
    * [[graft.quality.FhirQuality.TableOrder]], each table's rows in
    * battery order; and complete per-table [[TableAccounting]]. Nothing
    * else the call persisted outlives it.
    */
  def run(spark: SparkSession, inputDir: String): Result =
    BundleReader.withParsedEntries(spark, inputDir) { entries =>
      val tables = Sinks.LoadOrder.zip(FanOut(spark.sparkContext, "fhir-tables")(
        Sinks.LoadOrder.map(n => s"fhir table $n" -> (() => materialize(entries, n))))).toMap
      def report(qc: Materialized => Seq[Row]): DataFrame = {
        val rows = FhirQuality.TableOrder.flatMap(n => qc(tables(n)))
        // one partition: a sink writes one file, in this order
        spark.createDataFrame(rows.asJava, rows.head.schema).coalesce(1)
      }
      Result(tables.map { case (n, t) => n -> t.cleaned }, report(_.initialQc),
        report(_.finalQc), tables.map { case (n, t) => n -> t.accounting })
    }

  private final case class Materialized(cleaned: DataFrame, initialQc: Seq[Row],
      finalQc: Seq[Row], accounting: TableAccounting)

  /** Every row, as a battery sum. */
  private val Rows = PredicateError("rows", lit(true))

  /** The accounting sums of the initial battery over a raw table: its
    * rows, the rows that keep every drop key, and for patient the
    * reference's counters over those rows, which it snapshots right
    * after the drop (`data_quality_checker.py:246-268`): booleans updated
    * where the integer is present and the boolean missing; integer nulls
    * then filled with 0.
    */
  private def accountingSums(table: String): Seq[PredicateError] =
    Rows +: Cleaning.DropKeys.get(table).toSeq.flatMap { keys =>
      val kept = keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _)
      val int = col("`resource.multipleBirthInteger`")
      PredicateError("rows_post_drop", kept) +: (if (table != "patient") Nil else Seq(
        PredicateError("updated_booleans",
          kept && int.isNotNull && col("`resource.multipleBirthBoolean`").isNull),
        PredicateError("filled_values", kept && int.isNull)))
    }

  /** One table, in one task: the raw table persisted and its initial
    * battery collected, then the cleaned table persisted (it reads the
    * raw cache) and its final battery collected, then the raw table
    * released. Each battery is the table's QC checks followed by its
    * accounting sums.
    */
  private def materialize(entries: DataFrame, table: String): Materialized = {
    val checks = FhirQuality.checks(table)
    def battery(step: String, df: DataFrame, sums: Seq[PredicateError]) = {
      val b = QualityChecker.tableBattery(df, s"${table}_df", checks ++ sums)
      val rows = FanOut.described(df.sparkSession.sparkContext, s"fhir qc $step $table")(b.collect())
      val (qc, counts) = rows.toSeq.splitAt(checks.size)
      (qc, counts.map(r => r.getString(1) -> r.getLong(2)).toMap)
    }
    val raw = CachedFrames.cached(Extractors.table(entries, table))
    try {
      val (initialQc, before) = battery("initial", raw, accountingSums(table))
      val cleaned = CachedFrames.cached(Cleaning.table(table, raw))
      val (finalQc, after) = battery("final", cleaned, Seq(Rows))
      Materialized(cleaned, initialQc, finalQc,
        TableAccounting(table, summary(before, after("rows"))))
    } finally CachedFrames.release(raw)
  }

  private def summary(before: Map[String, Long], after: Long): Map[String, Long] = {
    val b = before("rows")
    val base = Map("rows_before" -> b, "rows_after" -> after, "rows_removed" -> (b - after))
    before.get("rows_post_drop").fold(base) { kept =>
      base ++ Map("rows_removed_null_keys" -> (b - kept), "rows_removed_dedup" -> (kept - after)) ++
        (before -- Seq("rows", "rows_post_drop"))
    }
  }

  /** Run + write every table as CSV (`json_pipeline.py:1058-1076`) or
    * parquet under `outDir/<table>`, with the two quality summaries at
    * `outDir/initial_quality` / `outDir/final_quality`, then print the
    * reference-style per-table accounting report ("Before cleaning: …
    * rows", removed/filled/updated — `json_pipeline.py:536-559`). The
    * eight writes run concurrently ([[graft.FanOut]]) from the persisted
    * tables, which are released afterwards: acting on the returned
    * `tables` again recomputes them.
    */
  def runToDir(spark: SparkSession, inputDir: String, outDir: String,
      format: String = "csv"): Result = {
    val r = run(spark, inputDir)
    def write(df: DataFrame, name: String): Unit =
      if (format == "parquet") Sinks.writeParquet(df, s"$outDir/$name")
      else Sinks.writeCsv(df, s"$outDir/$name")
    try FanOut(spark.sparkContext, "fhir-write")(
      Sinks.LoadOrder.map(n => s"fhir write $n" -> (() => write(Sinks.underscored(r.tables(n)), n))) ++
        Seq("initial_quality" -> r.initialQuality, "final_quality" -> r.finalQuality).map {
          case (n, df) => s"fhir write $n" -> (() => Sinks.writeCsv(df, s"$outDir/$n"))
        })
    finally CachedFrames.release(r.tables.values.toSeq: _*)
    Sinks.LoadOrder.foreach { name =>
      r.accounting.get(name).foreach { acc =>
        val s = acc.summary
        println(s"[$name] " + s.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    }
    r
  }
}
