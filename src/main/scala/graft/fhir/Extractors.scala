package graft.fhir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-resource extraction (SURVEY.md §2.5 A1–A12, §2.4 X1–X4, §2.3 P1–P4).
  *
  * Each extractor is one `select` over the routed entry frame — every
  * array/struct hop the reference did with `iterrows()` loops
  * (`json_pipeline.py:187-466`) is an `element_at`/`filter`/`transform`
  * higher-order expression, so extraction is a shuffle-free projection and
  * Catalyst prunes the unread branches of the resource struct out of the
  * JSON scan.
  *
  * Column names keep the reference's dotted paths (the CSV sink writes them
  * as-is; the JDBC sink renames `.`→`_`, `json_pipeline.py:869`).
  * Reference columns (`subject`/`patient`/`context`/`encounter`
  * `.reference`) are `urn:uuid:`-stripped here, matching clean_and_rename
  * (`json_pipeline.py:122-153`).
  */
object Extractors {

  private def strip(c: Column): Column = BundleReader.stripUrnUuid(c)

  /** First element of an array of structs, or null — the A-family's
    * universal access pattern. `element_at(_, 1)` is null-safe on null and
    * short arrays under non-ANSI element semantics via `try_element_at`.
    */
  private def first(arr: Column): Column = try_element_at(arr, lit(1))

  /** A1 helper — first entry of `address[0].extension[0].extension` whose
    * url matches, → valueDecimal (`json_pipeline.py:191-204`).
    */
  private def geo(url: String): Column =
    first(filter(
      first(first(col("resource.address")).getField("extension")).getField("extension"),
      e => e.getField("url") === url)).getField("valueDecimal")

  /** X2 — full_address keeps empty segments (plain concat, NOT concat_ws:
    * the reference joins with `", "` after defaulting missing parts to
    * `''`, `json_pipeline.py:198-200`). Null — not `", , , "` — when the
    * patient has no address or address[0] carries no geolocation
    * extension: the reference only assembles full_address inside its
    * `isinstance(address, list) and 'extension' in address[0]` branch
    * (`json_pipeline.py:191-204`), else appends None.
    */
  private def fullAddress: Column = {
    val a0 = first(col("resource.address"))
    when(a0.isNotNull && a0.getField("extension").isNotNull,
      concat(
        coalesce(array_join(a0.getField("line"), ", "), lit("")), lit(", "),
        coalesce(a0.getField("city"), lit("")), lit(", "),
        coalesce(a0.getField("state"), lit("")), lit(", "),
        coalesce(a0.getField("postalCode"), lit(""))))
  }

  /** A4 helper — LAST `resource.extension[]` entry matching any of the
    * given urls: the reference's loop reassigns on every match
    * (`json_pipeline.py:259-267`), so when a patient carries duplicate
    * race/ethnicity/birthplace extensions the last one wins.
    * `try_element_at(…, -1)` is the ANSI-safe last-element read (null for
    * no match).
    */
  private def ext(urls: Seq[String]): Column =
    try_element_at(
      filter(col("resource.extension"), e => e.getField("url").isin(urls: _*)),
      lit(-1))

  // The reference matches these EXACT url strings
  // (`json_pipeline.py:261-266`); the modern US-Core / SHR canonical forms
  // are accepted as well so both data vintages extract. Public: the
  // fhir_patient_oracle DuckDB SQL embeds the same lists so engine and
  // oracle can never drift.
  val RaceUrls: Seq[String] = Seq(
    "http://hl7.org/fhir/StructureDefinition/us-core-race",
    "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race")
  val EthnicityUrls: Seq[String] = Seq(
    "http://hl7.org/fhir/StructureDefinition/us-core-ethnicity",
    "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity")
  val BirthplaceUrls: Seq[String] = Seq(
    "http://standardhealthrecord.org/fhir/extensions/placeOfBirth",
    "http://standardhealthrecord.org/fhir/StructureDefinition/placeOfBirth")

  private def extCoding0(urls: Seq[String], field: String): Column =
    first(ext(urls).getField("valueCodeableConcept").getField("coding")).getField(field)

  /** Patient table (`json_pipeline.py:162-293`): geolocation (A1), phone
    * (A2), name (A3 + X3), race/ethnicity/birthplace extensions (A4 + X4),
    * marital status (A5). Photo/identifier/text columns are simply never
    * projected (P1/P2 for free).
    */
  def patient(entries: DataFrame): DataFrame = {
    val name0 = first(col("resource.name"))
    val firstName = first(name0.getField("given"))
    val lastName = name0.getField("family")
    val bp = ext(BirthplaceUrls).getField("valueAddress")
    entries.select(
      col("fullUrl"),
      col("resource.id").as("resource.id"),
      col("resource.gender").as("resource.gender"),
      col("resource.birthDate").as("resource.birthDate"),
      col("resource.multipleBirthBoolean").as("resource.multipleBirthBoolean"),
      col("patient_id"),
      col("resource.deceasedDateTime").as("resource.deceasedDateTime"),
      col("resource.multipleBirthInteger").as("resource.multipleBirthInteger"),
      geo("latitude").as("latitude"),
      geo("longitude").as("longitude"),
      fullAddress.as("full_address"),
      first(filter(col("resource.telecom"), t => t.getField("system") === "phone"))
        .getField("value").as("contact_number"),
      firstName.as("first_name"),
      lastName.as("last_name"),
      when(firstName.isNotNull && lastName.isNotNull,
        concat_ws(" ", firstName, lastName)).as("full_name"),
      extCoding0(RaceUrls, "display").as("race"),
      extCoding0(RaceUrls, "code").as("race_code"),
      extCoding0(EthnicityUrls, "display").as("ethnicity"),
      extCoding0(EthnicityUrls, "code").as("ethnicity_code"),
      // X4 — `f"{city}, {state}"` with '' defaults (json_pipeline.py:268)
      when(ext(BirthplaceUrls).isNotNull,
        concat(coalesce(bp.getField("city"), lit("")), lit(", "),
          coalesce(bp.getField("state"), lit("")))).as("birthplace"),
      first(col("resource.maritalStatus.coding")).getField("code").as("maritalStatus"))
  }

  /** Encounter table (`json_pipeline.py:300-336`, A6/A7). */
  def encounter(entries: DataFrame): DataFrame =
    entries.select(
      col("fullUrl"),
      col("resource.id").as("resource.id"),
      col("resource.status").as("resource.status"),
      col("resource.class.code").as("resource.class.code"),
      strip(col("resource.patient.reference")).as("resource.patient.reference"),
      col("resource.period.start").as("resource.period.start"),
      col("resource.period.end").as("resource.period.end"),
      col("patient_id"),
      first(first(col("resource.type")).getField("coding")).getField("code")
        .as("encounter_type_code"),
      first(col("resource.type")).getField("text").as("encounter_text"),
      first(col("resource.reason.coding")).getField("code").as("reason_code"),
      first(col("resource.reason.coding")).getField("display").as("reason_display"))

  /** Condition table (`json_pipeline.py:344-364`, A8). */
  def condition(entries: DataFrame): DataFrame =
    entries.select(
      col("fullUrl"),
      col("resource.id").as("resource.id"),
      col("resource.clinicalStatus").as("resource.clinicalStatus"),
      col("resource.verificationStatus").as("resource.verificationStatus"),
      strip(col("resource.subject.reference")).as("resource.subject.reference"),
      strip(col("resource.context.reference")).as("resource.context.reference"),
      col("resource.onsetDateTime").as("resource.onsetDateTime"),
      col("patient_id"),
      col("resource.abatementDateTime").as("resource.abatementDateTime"),
      first(col("resource.code.coding")).getField("display").as("condition_display"),
      first(col("resource.code.coding")).getField("code").as("condition_code"))

  /** Observation table (`json_pipeline.py:372-392`, A9). */
  def observation(entries: DataFrame): DataFrame =
    entries.select(
      col("fullUrl"),
      col("resource.id").as("resource.id"),
      col("resource.status").as("resource.status"),
      strip(col("resource.subject.reference")).as("resource.subject.reference"),
      strip(col("resource.encounter.reference")).as("resource.encounter.reference"),
      col("resource.effectiveDateTime").as("resource.effectiveDateTime"),
      col("resource.valueQuantity.value").as("resource.valueQuantity.value"),
      col("resource.valueQuantity.unit").as("resource.valueQuantity.unit"),
      col("patient_id"),
      first(col("resource.code.coding")).getField("display").as("observation_type"),
      first(col("resource.code.coding")).getField("code").as("observation_code"))

  /** Immunization table (`json_pipeline.py:400-420`, A10). */
  def immunization(entries: DataFrame): DataFrame =
    entries.select(
      col("resource.status").as("resource.status"),
      col("resource.date").as("resource.date"),
      strip(col("resource.patient.reference")).as("resource.patient.reference"),
      col("resource.wasNotGiven").as("resource.wasNotGiven"),
      col("resource.primarySource").as("resource.primarySource"),
      strip(col("resource.encounter.reference")).as("resource.encounter.reference"),
      col("patient_id"),
      first(col("resource.vaccineCode.coding")).getField("display").as("vaccine_type"),
      first(col("resource.vaccineCode.coding")).getField("code").as("vaccine_code"))

  /** CarePlan table (`json_pipeline.py:427-474`, A11/A12). The activity
    * list → joined string: extract coding[0] display/code per activity,
    * drop nulls, join with ", ", null when nothing remains
    * (`json_pipeline.py:451-466`).
    */
  def careplan(entries: DataFrame): DataFrame = {
    def activityJoined(field: String): Column = {
      val vals = filter(
        transform(col("resource.activity"),
          a => first(a.getField("detail").getField("code").getField("coding")).getField(field)),
        v => v.isNotNull)
      when(size(vals) > 0, array_join(vals, ", "))
    }
    entries.select(
      col("resource.status").as("resource.status"),
      strip(col("resource.subject.reference")).as("resource.subject.reference"),
      strip(col("resource.context.reference")).as("resource.context.reference"),
      col("resource.period.start").as("resource.period.start"),
      col("patient_id"),
      col("resource.period.end").as("resource.period.end"),
      first(first(col("resource.category")).getField("coding")).getField("display")
        .as("careplan_name"),
      first(first(col("resource.category")).getField("coding")).getField("code")
        .as("careplan_code"),
      activityJoined("display").as("careplan_activity"),
      activityJoined("code").as("careplan_activity_code"))
  }

  /** One table, by name, off a normalized entry frame. */
  def table(entries: DataFrame, name: String): DataFrame = name match {
    case "patient" => patient(BundleReader.route(entries, "Patient"))
    case "encounter" => encounter(BundleReader.route(entries, "Encounter"))
    case "condition" => condition(BundleReader.route(entries, "Condition"))
    case "observation" => observation(BundleReader.route(entries, "Observation"))
    case "immunization" => immunization(BundleReader.route(entries, "Immunization"))
    case "careplan" => careplan(BundleReader.route(entries, "CarePlan"))
  }

  /** All six tables off one (persisted) normalized entry frame. */
  def allTables(entries: DataFrame): Map[String, DataFrame] =
    graft.sinks.Sinks.LoadOrder.map(n => n -> table(entries, n)).toMap
}
