package graft.fhir

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.clean.Cleaners

/** Per-table cleaning pipelines — the exact compositions the reference
  * wires per table (`json_pipeline.py:534-690`):
  *
  * | table        | dropna keys                                   | backfill/fill | date nullify | swap              | dedup key     |
  * |--------------|-----------------------------------------------|---------------|--------------|-------------------|---------------|
  * | patient      | resource.id                                   | C5 + C6       | yes          | —                 | resource.id   |
  * | encounter    | resource.id, resource.patient.reference       | —             | yes          | period start/end  | resource.id   |
  * | careplan     | — (none)                                      | —             | yes          | period start/end  | — (none)      |
  * | condition    | resource.id, patient_id                       | —             | yes          | onset/abatement   | resource.id   |
  * | observation  | resource.id, patient_id                       | —             | yes          | —                 | resource.id   |
  * | immunization | resource.encounter.ref, resource.patient.ref  | —             | yes          | —                 | — (none)      |
  *
  * Lat/lon range-nullify runs after dedup for patient
  * (`json_pipeline.py:552-554`). All steps are narrow except the dedup
  * window (one shuffle on the key).
  */
object Cleaning {

  /** Instrumentation hook: called at named points inside a table pipeline
    * with the intermediate DataFrame; must return it (optionally wrapped,
    * e.g. with `observe` metrics — zero extra scans). The only point
    * currently emitted is `"post_drop"`, immediately after the table's
    * null-key drop: that is where the reference snapshots its
    * removed/filled/updated counters (`data_quality_checker.py:241-276`).
    */
  type Tap = (String, DataFrame) => DataFrame
  val noTap: Tap = (_, df) => df

  /** The 8 date columns the format cleaner touches wherever present
    * (`data_quality_checker.py:177`).
    */
  val DateColumns: Seq[String] = Seq(
    "resource.onsetDateTime", "resource.abatementDateTime",
    "resource.period.start", "resource.period.end",
    "resource.effectiveDateTime", "resource.date",
    "resource.birthDate", "resource.deceasedDateTime")

  /** Deterministic keep-first tiebreak: the reference keeps first in file
    * order; the engine orders by fullUrl then all columns' stable key —
    * here fullUrl is unique per entry so it suffices where present.
    */
  private def dedup(df: DataFrame, key: String): DataFrame = {
    val tiebreak =
      if (df.columns.contains("fullUrl")) Seq(col("fullUrl"))
      else df.columns.map(c => col(s"`$c`")).toSeq
    Cleaners.dedupKeepFirst(df, Seq(key), tiebreak)
  }

  def patient(df: DataFrame, tap: Tap = noTap): DataFrame = {
    val dropped = tap("post_drop", Cleaners.dropNullKeys(df, Seq("resource.id")))
    val missing = Cleaners.fillNull(
      Cleaners.backfillBooleanFromInt(
        dropped,
        "resource.multipleBirthInteger", "resource.multipleBirthBoolean"),
      "resource.multipleBirthInteger", 0)
    val formats = Cleaners.nullifyInvalidPhone(
      Cleaners.nullifyInvalidDates(missing, DateColumns), "contact_number")
    val deduped = dedup(formats, "resource.id")
    Cleaners.nullifyOutOfRange(
      Cleaners.nullifyOutOfRange(deduped, "latitude", -90, 90),
      "longitude", -180, 180)
  }

  def encounter(df: DataFrame, tap: Tap = noTap): DataFrame =
    dedup(
      Cleaners.swapInvertedPair(
        Cleaners.nullifyInvalidDates(
          tap("post_drop",
            Cleaners.dropNullKeys(df, Seq("resource.id", "resource.patient.reference"))),
          DateColumns),
        "resource.period.start", "resource.period.end"),
      "resource.id")

  def careplan(df: DataFrame, tap: Tap = noTap): DataFrame =
    Cleaners.swapInvertedPair(
      Cleaners.nullifyInvalidDates(df, DateColumns),
      "resource.period.start", "resource.period.end")

  def condition(df: DataFrame, tap: Tap = noTap): DataFrame =
    dedup(
      Cleaners.swapInvertedPair(
        Cleaners.nullifyInvalidDates(
          tap("post_drop", Cleaners.dropNullKeys(df, Seq("resource.id", "patient_id"))),
          DateColumns),
        "resource.onsetDateTime", "resource.abatementDateTime"),
      "resource.id")

  def observation(df: DataFrame, tap: Tap = noTap): DataFrame =
    dedup(
      Cleaners.nullifyInvalidDates(
        tap("post_drop", Cleaners.dropNullKeys(df, Seq("resource.id", "patient_id"))),
        DateColumns),
      "resource.id")

  def immunization(df: DataFrame, tap: Tap = noTap): DataFrame =
    Cleaners.nullifyInvalidDates(
      tap("post_drop", Cleaners.dropNullKeys(df,
        Seq("resource.encounter.reference", "resource.patient.reference"))),
      DateColumns)

  /** Clean one table, by name, with its pipeline, threading an
    * instrumentation tap (see [[Tap]]).
    */
  def table(name: String, df: DataFrame, tap: Tap = noTap): DataFrame = name match {
    case "patient" => patient(df, tap)
    case "encounter" => encounter(df, tap)
    case "condition" => condition(df, tap)
    case "observation" => observation(df, tap)
    case "immunization" => immunization(df, tap)
    case "careplan" => careplan(df, tap)
  }

  /** Clean all six tables with their table-specific pipelines. */
  def all(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    graft.sinks.Sinks.LoadOrder.map(n => n -> table(n, tables(n))).toMap
}
