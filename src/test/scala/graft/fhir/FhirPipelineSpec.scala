package graft.fhir

import graft.SparkSpec
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end FHIR test: constructed Bundle fixtures (FIXTURES.md §1
  * — the reference's own sample data was stripped) → BundleReader →
  * Extractors → Cleaning → assert output schemas (FIXTURES.md §2) + values,
  * including the documented quirks: null patient_id for Encounter
  * resources, urn:uuid stripping, date-swap, keep-first dedup.
  */
class FhirPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = graft.TempRoots.create("fhir_fixture")
    Files.writeString(dir.resolve("b1.json"), FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), FhirFixtures.bundle2)
    val entries = BundleReader.normalizedEntries(spark, dir.toString).cache()
    Cleaning.all(Extractors.allTables(entries))
  }

  test("patient: extraction + cleaning (A1-A5, X2-X4, C1-C3, C5, C6, D1)") {
    val p = tables("patient")
    val rows = p.orderBy(col("`resource.id`")).collect()
    assert(rows.length == 2, "dup pat-1 dropped, keep-first by fullUrl")

    val r1 = rows(0)
    assert(r1.getAs[String]("resource.id") == "pat-1")
    assert(r1.getAs[String]("fullUrl") == "pat-1", "urn:uuid stripped")
    assert(r1.getAs[String]("patient_id") == "pat-1")
    assert(r1.getAs[Double]("latitude") == 42.1)
    assert(r1.getAs[Double]("longitude") == -72.5)
    assert(r1.getAs[String]("full_address") == "12 Oak St, Apt 3, Springfield, MA, 01101")
    assert(r1.getAs[String]("contact_number") == "555-123-4567")
    assert(r1.getAs[String]("first_name") == "Ada")
    assert(r1.getAs[String]("last_name") == "Lovelace")
    assert(r1.getAs[String]("full_name") == "Ada Lovelace")
    assert(r1.getAs[String]("race") == "White")
    assert(r1.getAs[String]("race_code") == "2106-3")
    assert(r1.getAs[String]("ethnicity") == "Nonhispanic")
    assert(r1.getAs[String]("birthplace") == "Boston, MA")
    assert(r1.getAs[String]("maritalStatus") == "M")
    // C5/C6: int=2 + bool null → true; fill int null→0 elsewhere
    assert(r1.getAs[Boolean]("resource.multipleBirthBoolean") == true)
    assert(r1.getAs[Int]("resource.multipleBirthInteger") == 2)

    val r2 = rows(1)
    assert(r2.getAs[Any]("resource.birthDate") == null, "invalid date nullified (C1)")
    assert(r2.getAs[Any]("contact_number") == null, "invalid phone nullified (C2)")
    assert(r2.getAs[Any]("latitude") == null, "out-of-range lat nullified (C3)")
    assert(r2.getAs[Double]("longitude") == -72.5)
    assert(r2.getAs[Any]("full_name") == null, "full_name needs both parts (X3)")
    assert(r2.getAs[Int]("resource.multipleBirthInteger") == 0, "C6 fill")
    assert(r2.getAs[Any]("resource.multipleBirthBoolean") == null, "no backfill when int was null")
    assert(r2.getAs[String]("race") == "Asian", "modern US-Core race url variant extracts (A4)")
  }

  test("readEntriesWithCorrupt: malformed file quarantined, good bundles still parse") {
    val dir = graft.TempRoots.create("fhir_corrupt")
    Files.writeString(dir.resolve("good.json"), FhirFixtures.bundle1)
    Files.writeString(dir.resolve("bad.json"), "{ this is not json at all")
    val (entries, corrupt) = BundleReader.readEntriesWithCorrupt(spark, dir.toString)
    assert(entries.count() > 0, "good bundle parsed")
    val bad = corrupt.collect()
    assert(bad.length == 1, "exactly the malformed file quarantined")
    assert(bad(0).getAs[String]("file").endsWith("bad.json"))
    assert(bad(0).getAs[String]("corrupt_prefix").startsWith("{ this is not"))
    // the happy-path reader and the corrupt-aware reader agree on entries
    assert(entries.count() ==
      BundleReader.readEntries(spark, dir.toString).count())
  }

  test("duplicate race extensions: LAST match wins (reference loop reassigns, json_pipeline.py:259-267)") {
    val dir = graft.TempRoots.create("fhir_dup_ext")
    Files.writeString(dir.resolve("d.json"),
      """{"resourceType":"Bundle","type":"collection","entry":[
        |{"fullUrl":"urn:uuid:pat-9","resource":{
        |  "resourceType":"Patient","id":"pat-9","extension":[
        |    {"url":"http://hl7.org/fhir/StructureDefinition/us-core-race",
        |     "valueCodeableConcept":{"coding":[{"display":"First","code":"1"}]}},
        |    {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race",
        |     "valueCodeableConcept":{"coding":[{"display":"Second","code":"2"}]}}]}}
        |]}""".stripMargin)
    val entries = BundleReader.normalizedEntries(spark, dir.toString)
    val row = Extractors.patient(BundleReader.route(entries, "Patient")).collect()(0)
    assert(row.getAs[String]("race") == "Second")
    assert(row.getAs[String]("race_code") == "2")
  }

  test("full_address is null (not ', , , ') without an address or geolocation extension") {
    // reference only assembles full_address when address[0] has an
    // 'extension' key (json_pipeline.py:191-204)
    val bundle =
      """{"resourceType":"Bundle","type":"collection","entry":[
        |{"fullUrl":"urn:uuid:na-1","resource":{
        |  "resourceType":"Patient","id":"na-1","gender":"female"}},
        |{"fullUrl":"urn:uuid:na-2","resource":{
        |  "resourceType":"Patient","id":"na-2","gender":"male",
        |  "address":[{"line":["9 Pine"],"city":"Salem","state":"OR","postalCode":"97301"}]}}
        |]}""".stripMargin
    val dir = graft.TempRoots.create("fhir_noaddr")
    Files.writeString(dir.resolve("b.json"), bundle)
    val entries = BundleReader.normalizedEntries(spark, dir.toString)
    val p = Extractors.patient(BundleReader.route(entries, "Patient"))
      .orderBy(col("`resource.id`")).collect()
    assert(p.length == 2)
    assert(p(0).getAs[Any]("full_address") == null, "no address at all")
    assert(p(1).getAs[Any]("full_address") == null, "address without geolocation extension")
    assert(p(1).getAs[Any]("latitude") == null)
  }

  test("encounter: quirk patient_id null, period swap applied (C4)") {
    val e = tables("encounter").collect()
    assert(e.length == 1)
    val r = e(0)
    assert(r.getAs[Any]("patient_id") == null, "Encounter carries patient.reference → parity null")
    assert(r.getAs[String]("resource.patient.reference") == "pat-1", "stripped")
    assert(r.getAs[String]("resource.period.start") == "2015-01-01T10:00:00-05:00", "swapped")
    assert(r.getAs[String]("resource.period.end") == "2015-02-02T10:00:00-05:00")
    assert(r.getAs[String]("encounter_type_code") == "185349003")
    assert(r.getAs[String]("encounter_text") == "Checkup")
    assert(r.getAs[String]("reason_code") == "44054006")
    assert(r.getAs[String]("reason_display") == "Diabetes")
  }

  test("condition: invalid abatement nullified; codes extracted; patient_id from subject") {
    val c = tables("condition").collect()
    assert(c.length == 1)
    val r = c(0)
    assert(r.getAs[String]("patient_id") == "pat-1")
    assert(r.getAs[Any]("resource.abatementDateTime") == null)
    assert(r.getAs[String]("resource.onsetDateTime") == "2014-01-01T00:00:00-05:00")
    assert(r.getAs[String]("condition_display") == "Diabetes")
    assert(r.getAs[String]("condition_code") == "44054006")
    assert(r.getAs[String]("resource.context.reference") == "enc-1")
  }

  test("observation: valueQuantity + coding") {
    val o = tables("observation").collect()
    assert(o.length == 1)
    val r = o(0)
    assert(r.getAs[Double]("resource.valueQuantity.value") == 6.2)
    assert(r.getAs[String]("resource.valueQuantity.unit") == "%")
    assert(r.getAs[String]("observation_type") == "HbA1c")
    assert(r.getAs[String]("observation_code") == "4548-4")
  }

  test("immunization: booleans + vaccine coding; patient_id quirk null") {
    val i = tables("immunization").collect()
    assert(i.length == 1)
    val r = i(0)
    assert(r.getAs[Any]("patient_id") == null)
    assert(r.getAs[Boolean]("resource.wasNotGiven") == false)
    assert(r.getAs[Boolean]("resource.primarySource") == true)
    assert(r.getAs[String]("vaccine_type") == "Influenza")
    assert(r.getAs[String]("vaccine_code") == "140")
    assert(r.getAs[String]("resource.date") == "2015-01-01T10:45:00-05:00")
  }

  test("careplan: activity join skips empty codings (A12); bare-date period swapped") {
    val cp = tables("careplan").collect()
    assert(cp.length == 1)
    val r = cp(0)
    assert(r.getAs[String]("careplan_name") == "Diabetes self management plan")
    assert(r.getAs[String]("careplan_code") == "698360004")
    assert(r.getAs[String]("careplan_activity") == "Diabetic diet, Exercise therapy")
    assert(r.getAs[String]("careplan_activity_code") == "160670007, 229065009")
    assert(r.getAs[String]("resource.period.start") == "2015-01-01")
    assert(r.getAs[String]("resource.period.end") == "2015-03-01")
  }

  test("output schemas match the DDL column sets (FIXTURES.md §2) after underscore rename") {
    val expected = Map(
      "patient" -> Seq("fullUrl", "resource_id", "resource_gender", "resource_birthDate",
        "resource_multipleBirthBoolean", "patient_id", "resource_deceasedDateTime",
        "resource_multipleBirthInteger", "latitude", "longitude", "full_address",
        "contact_number", "first_name", "last_name", "full_name", "race", "race_code",
        "ethnicity", "ethnicity_code", "birthplace", "maritalStatus"),
      "careplan" -> Seq("resource_status", "resource_subject_reference",
        "resource_context_reference", "resource_period_start", "patient_id",
        "resource_period_end", "careplan_name", "careplan_code", "careplan_activity",
        "careplan_activity_code"),
      "condition" -> Seq("fullUrl", "resource_id", "resource_clinicalStatus",
        "resource_verificationStatus", "resource_subject_reference",
        "resource_context_reference", "resource_onsetDateTime", "patient_id",
        "resource_abatementDateTime", "condition_display", "condition_code"),
      "encounter" -> Seq("fullUrl", "resource_id", "resource_status",
        "resource_class_code", "resource_patient_reference", "resource_period_start",
        "resource_period_end", "patient_id", "encounter_type_code", "encounter_text",
        "reason_code", "reason_display"),
      "immunization" -> Seq("resource_status", "resource_date",
        "resource_patient_reference", "resource_wasNotGiven", "resource_primarySource",
        "resource_encounter_reference", "patient_id", "vaccine_type", "vaccine_code"),
      "observation" -> Seq("fullUrl", "resource_id", "resource_status",
        "resource_subject_reference", "resource_encounter_reference",
        "resource_effectiveDateTime", "resource_valueQuantity_value",
        "resource_valueQuantity_unit", "patient_id", "observation_type",
        "observation_code"))
    expected.foreach { case (name, cols) =>
      assert(Sinks.underscored(tables(name)).columns.toSeq == cols, s"table $name")
    }
  }

  test("csv sink roundtrip") {
    val dir = graft.TempRoots.create("csv_out")
    Sinks.writeCsv(Sinks.underscored(tables("condition")), s"$dir/condition")
    val back = spark.read.option("header", true).csv(s"$dir/condition")
    assert(back.count() == 1)
    assert(back.columns.contains("condition_code"))
  }
}
