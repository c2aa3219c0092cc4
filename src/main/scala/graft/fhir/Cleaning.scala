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
  * window (one shuffle on the key). The dropna keys are [[DropKeys]],
  * which the pipelines and [[Pipeline]]'s removal accounting both read.
  */
object Cleaning {

  /** Each table's null-key drop, the first step of its pipeline: rows
    * missing any of these keys go. Careplan has none. The pipeline's
    * accounting counts the rows that keep every key
    * ([[graft.fhir.Pipeline.TableAccounting]]).
    */
  val DropKeys: Map[String, Seq[String]] = Map(
    "patient" -> Seq("resource.id"),
    "encounter" -> Seq("resource.id", "resource.patient.reference"),
    "condition" -> Seq("resource.id", "patient_id"),
    "observation" -> Seq("resource.id", "patient_id"),
    "immunization" -> Seq("resource.encounter.reference", "resource.patient.reference"))

  private def dropNullKeys(df: DataFrame, table: String): DataFrame =
    Cleaners.dropNullKeys(df, DropKeys(table))

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

  def patient(df: DataFrame): DataFrame = {
    val dropped = dropNullKeys(df, "patient")
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

  def encounter(df: DataFrame): DataFrame =
    dedup(
      Cleaners.swapInvertedPair(
        Cleaners.nullifyInvalidDates(dropNullKeys(df, "encounter"), DateColumns),
        "resource.period.start", "resource.period.end"),
      "resource.id")

  def careplan(df: DataFrame): DataFrame =
    Cleaners.swapInvertedPair(
      Cleaners.nullifyInvalidDates(df, DateColumns),
      "resource.period.start", "resource.period.end")

  def condition(df: DataFrame): DataFrame =
    dedup(
      Cleaners.swapInvertedPair(
        Cleaners.nullifyInvalidDates(dropNullKeys(df, "condition"), DateColumns),
        "resource.onsetDateTime", "resource.abatementDateTime"),
      "resource.id")

  def observation(df: DataFrame): DataFrame =
    dedup(
      Cleaners.nullifyInvalidDates(dropNullKeys(df, "observation"), DateColumns),
      "resource.id")

  def immunization(df: DataFrame): DataFrame =
    Cleaners.nullifyInvalidDates(dropNullKeys(df, "immunization"), DateColumns)

  /** Clean one table, by name, with its pipeline. */
  def table(name: String, df: DataFrame): DataFrame = name match {
    case "patient" => patient(df)
    case "encounter" => encounter(df)
    case "condition" => condition(df)
    case "observation" => observation(df)
    case "immunization" => immunization(df)
    case "careplan" => careplan(df)
  }

  /** Clean all six tables with their table-specific pipelines. */
  def all(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    graft.sinks.Sinks.LoadOrder.map(n => n -> table(n, tables(n))).toMap
}
