package graft.quality

import graft.SparkSpec
import graft.fhir.{BundleReader, Extractors, FhirFixtures}
import java.nio.file.Files

/** G5 battery over the pre-clean fixture tables — counts hand-computed
  * from FhirFixtures (bundle1 + bundle2).
  */
class FhirQualitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val summary: Map[(String, String), (Long, Double)] = {
    val dir = graft.TempRoots.create("fhir_quality")
    Files.writeString(dir.resolve("b1.json"), FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), FhirFixtures.bundle2)
    val entries = BundleReader.normalizedEntries(spark, dir.toString).cache()
    FhirQuality.runQualityChecks(Extractors.allTables(entries))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
  }

  test("battery has the reference's 20 checks") {
    assert(summary.size == 20)
    assert(summary.keys.count(_._1 == "patient_df") == 7)
    assert(summary.keys.count(_._1 == "condition_df") == 4)
    assert(summary.keys.count(_._1 == "encounter_df") == 3)
    assert(summary.keys.count(_._1 == "careplan_df") == 3)
    assert(summary.keys.count(_._1 == "observation_df") == 2)
    assert(summary.keys.count(_._1 == "immunization_df") == 1)
  }

  test("patient checks: invalid birthdate, phone, latitude; dup resource.id") {
    // 3 patient rows pre-clean: pat-1, dup pat-1, pat-2
    assert(summary(("patient_df", "BirthDate Errors")) == (1L, 33.33), "03/04/1999")
    assert(summary(("patient_df", "Contact Number Errors"))._1 == 1L, "bogus-phone")
    assert(summary(("patient_df", "Latitude Errors"))._1 == 1L, "95.0")
    assert(summary(("patient_df", "Longitude Errors"))._1 == 0L)
    assert(summary(("patient_df", "Duplicate Resource.ID")) == (2L, 66.67), "keep=False counts both")
    assert(summary(("patient_df", "DeceasedDateTime Errors"))._1 == 0L, "all null → no errors")
  }

  test("condition: invalid abatement counts; careplan: inverted period") {
    assert(summary(("condition_df", "Invalid AbatementDateTime Format"))._1 == 1L, "not-a-date")
    assert(summary(("condition_df", "Invalid OnsetDateTime Format"))._1 == 0L)
    assert(summary(("condition_df", "Logical Date Compliance"))._1 == 0L, "abatement invalid but compare is raw strings: 2014-01... < not-a-date")
    assert(summary(("careplan_df", "Logical Date Compliance"))._1 == 1L, "2015-03-01 > 2015-01-01")
    assert(summary(("careplan_df", "Invalid Period Start Format"))._1 == 0L, "bare dates valid for careplan")
  }

  test("encounter: datetime-format checks pass, inverted period NOT checked (no logical check)") {
    assert(summary(("encounter_df", "Invalid Period Start Format"))._1 == 0L)
    assert(!summary.contains(("encounter_df", "Logical Date Compliance")),
      "reference has no encounter logical-date check")
  }
}
