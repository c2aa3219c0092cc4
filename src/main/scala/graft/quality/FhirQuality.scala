package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.clean.Validators

/** The reference's fixed per-table quality-check battery (G5,
  * `data_quality_checker.py:105-163`): 20 checks across the six tables,
  * with the reference's exact composition and error-type strings —
  * condition 4, encounter 3, careplan 3 (note: bare-DATE validation for
  * careplan periods where encounter demands full datetimes,
  * `data_quality_checker.py:129-131` vs `:121-123`), patient 7,
  * observation 2, immunization 1.
  *
  * Run pre-clean ("initial") and post-clean ("final") like the reference's
  * Airflow tasks (`json_pipeline.py:516-529`, `:702-722`). A table's
  * [[checks]] are one [[QualityChecker.tableBattery]], a single-pass
  * aggregate (the reference iterates every row in Python per check), and
  * reports list the tables in [[TableOrder]], each table's rows in
  * battery order. [[runQualityChecks]] is the lazy form over a table map;
  * [[graft.fhir.Pipeline.run]] collects each table's battery inside that
  * table's own task, with its cleaning accounting as extra sums.
  */
object FhirQuality {

  import QualityChecker._

  private def col_(name: String) = col(s"`$name`")

  /** The reference's dispatch order (`json_pipeline.py:517-518`: the
    * checker is constructed with [patient, careplan, condition,
    * observation, encounter, immunization]) — the row order of every
    * battery report, the lazy [[runQualityChecks]] and the pipeline's.
    */
  val TableOrder: Seq[String] = Seq("patient", "careplan", "condition", "observation",
    "encounter", "immunization")

  /** One of the six tables' checks in battery order, reported as
    * `<table>_df`.
    */
  def checks(name: String): Seq[BatteryCheck] = name match {
    case "condition" => Seq(
      invalidCheck(col_("resource.onsetDateTime"),
        Validators.isValidDatetime(col_("resource.onsetDateTime")),
        "Invalid OnsetDateTime Format"),
      invalidCheck(col_("resource.abatementDateTime"),
        Validators.isValidDatetime(col_("resource.abatementDateTime")),
        "Invalid AbatementDateTime Format"),
      DuplicateRows("Duplicate Check", Seq("fullUrl", "resource.id")),
      orderCheck(col_("resource.onsetDateTime"),
        col_("resource.abatementDateTime"),
        "Logical Date Compliance"))
    case "encounter" => Seq(
      invalidCheck(col_("resource.period.start"),
        Validators.isValidDatetime(col_("resource.period.start")),
        "Invalid Period Start Format"),
      invalidCheck(col_("resource.period.end"),
        Validators.isValidDatetime(col_("resource.period.end")),
        "Invalid Period End Format"),
      DuplicateRows("Duplicate Resource.ID", Seq("resource.id")))
    case "careplan" => Seq(
      invalidCheck(col_("resource.period.start"),
        Validators.isValidDate(col_("resource.period.start")),
        "Invalid Period Start Format"),
      invalidCheck(col_("resource.period.end"),
        Validators.isValidDate(col_("resource.period.end")),
        "Invalid Period End Format"),
      orderCheck(col_("resource.period.start"),
        col_("resource.period.end"),
        "Logical Date Compliance"))
    case "patient" => Seq(
      invalidCheck(col_("resource.birthDate"),
        Validators.isValidDate(col_("resource.birthDate")),
        "BirthDate Errors"),
      invalidCheck(col_("resource.deceasedDateTime"),
        Validators.isValidDatetime(col_("resource.deceasedDateTime")),
        "DeceasedDateTime Errors"),
      invalidCheck(col_("contact_number"),
        Validators.isValidPhone(col_("contact_number")),
        "Contact Number Errors"),
      invalidCheck(col_("latitude"),
        Validators.isValidLatitude(col_("latitude")),
        "Latitude Errors"),
      invalidCheck(col_("longitude"),
        Validators.isValidLongitude(col_("longitude")),
        "Longitude Errors"),
      orderCheck(col_("resource.birthDate"),
        col_("resource.deceasedDateTime"),
        "Birthdate vs DeceasedDateTime Logical Compliance"),
      DuplicateRows("Duplicate Resource.ID", Seq("resource.id")))
    case "observation" => Seq(
      invalidCheck(col_("resource.effectiveDateTime"),
        Validators.isValidDatetime(col_("resource.effectiveDateTime")),
        "Invalid EffectiveDateTime Format"),
      DuplicateRows("Duplicate Resource.ID", Seq("resource.id")))
    case "immunization" => Seq(
      invalidCheck(col_("resource.date"),
        Validators.isValidDatetime(col_("resource.date")),
        "Invalid Resource.Date Format"))
  }

  /** All 20 checks over the six extracted tables (keys: patient,
    * encounter, condition, observation, immunization, careplan), lazily.
    * Tables absent from the map are skipped, like the reference's name
    * dispatch.
    *
    * Each table's checks run as ONE [[QualityChecker.tableBattery]] scan
    * (predicate sums riding the duplicate-check aggregation where one
    * exists) — the unioned-one-row-aggregates form scanned each table once
    * per check.
    */
  def runQualityChecks(tables: Map[String, DataFrame]): DataFrame = {
    val ordered = TableOrder.flatMap(n =>
      tables.get(n).map(df => batteryRows(df, s"${n}_df", checks(n))))
    ordered.zipWithIndex
      .map { case (d, i) => d.withColumn("__tord", lit(i)) }
      .reduce(_.unionByName(_))
      .orderBy("__tord", "__ord")
      .drop("__tord", "__ord")
  }
}
