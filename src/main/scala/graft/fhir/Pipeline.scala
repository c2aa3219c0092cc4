package graft.fhir

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.{CachedFrames, FanOut}
import graft.quality.FhirQuality
import graft.sinks.Sinks

/** End-to-end FHIR pipeline — the engine's equivalent of the reference's
  * whole program (`json_pipeline.py` Entry A + the Airflow DAG's intended
  * semantics, SURVEY.md §3): ingest → per-resource extraction → initial
  * quality check → per-table cleaning → final quality check → sinks.
  *
  * The reference runs 19 Airflow tasks that each re-execute the import-time
  * pipeline (SURVEY.md §3.2). Here [[run]] is eager and pays each step
  * once: ONE parse of the bundle directory into a persisted entry frame,
  * ONE pass per table that materializes its raw and cleaned forms side
  * by side (the six tables concurrently, [[graft.FanOut]]), and the two
  * QC summaries read those persisted tables. The wide nested entry frame
  * is dropped before [[run]] returns; only the six narrow cleaned tables
  * stay in memory for the caller's sinks.
  */
object Pipeline {

  /** G6 — the reference's per-table cleaning accounting
    * (`json_pipeline.py:536-559` before/after prints;
    * `data_quality_checker.py:326-331` removed/filled/updated stats),
    * collected with `observe` metrics ON the cleaning plan itself: three
    * tiny aggregate taps ride the lineage that [[Pipeline.run]]
    * materializes, so the numbers cost ZERO extra scans.
    *
    * [[summary]] is complete when [[Pipeline.run]] returns: the run has
    * materialized every table and waited for its metrics.
    */
  final case class TableAccounting(
      table: String,
      before: Observation,
      postDrop: Option[Observation],
      after: Observation) {

    private def metric(o: Observation, key: String): Long =
      o.get.get(key).flatMap(Option(_)) match {
        case Some(n: Number) => n.longValue()
        case _ => 0L
      }

    /** rows_before/after, removal split (null-key drop vs dedup), and for
      * patient the reference's filled/updated counters.
      */
    def summary: Map[String, Long] = {
      val b = metric(before, "rows")
      val a = metric(after, "rows")
      val base = Map(
        "rows_before" -> b, "rows_after" -> a, "rows_removed" -> (b - a))
      postDrop match {
        case None => base
        case Some(p) =>
          val pd = metric(p, "rows")
          val extras = p.get.keySet.collect {
            case k @ ("filled_values" | "updated_booleans") => k -> metric(p, k)
          }
          base ++ Map(
            "rows_removed_null_keys" -> (b - pd),
            "rows_removed_dedup" -> (pd - a)) ++ extras
      }
    }
  }

  final case class Result(
      tables: Map[String, DataFrame],
      initialQuality: DataFrame,
      finalQuality: DataFrame,
      accounting: Map[String, TableAccounting])

  /** Run ingest → extract → QC → clean → QC, eagerly. Returns the six
    * cleaned tables persisted (through [[graft.CachedFrames.cached]]) and
    * materialized, so the caller's sinks read memory — release them with
    * [[graft.CachedFrames.release]] once written, as [[runToDir]] does;
    * the two QC summaries as local frames of at most 20 rows in battery
    * order; and complete per-table [[TableAccounting]]. Nothing else the
    * call persisted outlives it.
    */
  def run(spark: SparkSession, inputDir: String): Result =
    BundleReader.withParsedEntries(spark, inputDir) { entries =>
      val sc = spark.sparkContext
      val tables = Sinks.LoadOrder.zip(FanOut(sc, "fhir-tables")(Sinks.LoadOrder.map { n =>
        s"fhir table $n" -> (() => materialize(entries, n))
      })).toMap
      val raw = tables.map { case (n, t) => n -> t.raw }
      val cleaned = tables.map { case (n, t) => n -> t.cleaned }
      val qc = FanOut(sc, "fhir-qc")(Seq("initial" -> raw, "final" -> cleaned).map {
        case (step, ts) => s"fhir qc $step" -> (() => local(FhirQuality.runQualityChecks(ts)))
      })
      CachedFrames.release(raw.values.toSeq: _*)
      val accounting = tables.map { case (n, t) => n -> t.accounting }
      // observed metrics arrive through the listener bus: wait for them
      // here, so no caller ever blocks on a summary
      accounting.values.foreach(_.summary)
      Result(cleaned, qc(0), qc(1), accounting)
    }

  private final case class Materialized(raw: DataFrame, cleaned: DataFrame,
      accounting: TableAccounting)

  /** One table extracted and cleaned, both forms persisted and observed
    * (G6), built by one action: the cleaned cache reads the raw one, which
    * that action builds on the way.
    */
  private def materialize(entries: DataFrame, table: String): Materialized = {
    val (before, after) = (Observation(), Observation())
    val raw = CachedFrames.cached(
      Extractors.table(entries, table).observe(before, count(lit(1)).as("rows")))
    var postDrop = Option.empty[Observation]
    val tap: Cleaning.Tap = { (point, df) =>
      if (point != "post_drop") df
      else {
        val o = Observation()
        postDrop = Some(o)
        if (table == "patient")
          // the reference's counters snapshot exactly here, post-dropna
          // pre-fill (`data_quality_checker.py:246-268`): booleans updated
          // where the integer is present and the boolean missing; integer
          // nulls then filled with 0
          df.observe(o,
            count(lit(1)).as("rows"),
            sum((col("`resource.multipleBirthInteger`").isNotNull &&
              col("`resource.multipleBirthBoolean`").isNull).cast("long"))
              .as("updated_booleans"),
            sum(col("`resource.multipleBirthInteger`").isNull.cast("long"))
              .as("filled_values"))
        else df.observe(o, count(lit(1)).as("rows"))
      }
    }
    val cleaned = CachedFrames.cached(
      Cleaning.table(table, raw, tap).observe(after, count(lit(1)).as("rows")))
    cleaned.write.format("noop").mode("overwrite").save()
    Materialized(raw, cleaned, TableAccounting(table, before, postDrop, after))
  }

  /** `df` collected into a local frame with its schema and row order, in
    * one partition, so a sink writes it as one file in that order.
    */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      .coalesce(1)

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
