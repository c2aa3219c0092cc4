package graft.fhir

import graft.SparkSpec
import java.nio.file.Files

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("runToDir: full pipeline writes 6 tables + 2 quality summaries; cleaning visible in QC delta") {
    val in = graft.TempRoots.create("pipe_in")
    Files.writeString(in.resolve("b1.json"), FhirFixtures.bundle1)
    Files.writeString(in.resolve("b2.json"), FhirFixtures.bundle2)
    val out = graft.TempRoots.create("pipe_out")

    val r = Pipeline.runToDir(spark, in.toString, out.toString)

    Seq("patient", "encounter", "condition", "observation", "immunization",
      "careplan", "initial_quality", "final_quality")
      .foreach(t => assert(Files.exists(out.resolve(t)), s"missing $t"))

    def q(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.as[(String, String, Long, Double)].collect()
        .map(x => (x._1, x._2) -> x._3).toMap

    val before = q(r.initialQuality)
    val after = q(r.finalQuality)
    assert(before.size == 20 && after.size == 20)
    // cleaning effects: patient dup rows removed, invalid phone nullified
    assert(before(("patient_df", "Duplicate Resource.ID")) == 2L)
    assert(after(("patient_df", "Duplicate Resource.ID")) == 0L)
    assert(before(("patient_df", "Contact Number Errors")) == 1L)
    assert(after(("patient_df", "Contact Number Errors")) == 0L)
    assert(before(("patient_df", "Latitude Errors")) == 1L)
    assert(after(("patient_df", "Latitude Errors")) == 0L)
    // C1 nullifies invalid abatement → final format check clean
    assert(before(("condition_df", "Invalid AbatementDateTime Format")) == 1L)
    assert(after(("condition_df", "Invalid AbatementDateTime Format")) == 0L)
    // careplan period swap fixes the logical violation
    assert(before(("careplan_df", "Logical Date Compliance")) == 1L)
    assert(after(("careplan_df", "Logical Date Compliance")) == 0L)

    val patientCsv = spark.read.option("header", true)
      .csv(out.resolve("patient").toString)
    assert(patientCsv.count() == 2)
    assert(patientCsv.columns.contains("resource_birthDate"))

    // G6 accounting (observe metrics completed by the writes above):
    // patient: 3 raw rows (pat-1, its duplicate, pat-2), none with null
    // resource.id, dedup removes 1; pat-1 carries multipleBirthInteger=2
    // with no boolean (→ 1 updated boolean), the other 2 rows get the
    // integer filled with 0
    val pat = r.accounting("patient").summary
    assert(pat("rows_before") == 3L, pat)
    assert(pat("rows_after") == 2L, pat)
    assert(pat("rows_removed") == 1L, pat)
    assert(pat("rows_removed_null_keys") == 0L, pat)
    assert(pat("rows_removed_dedup") == 1L, pat)
    assert(pat("filled_values") == 2L, pat)
    assert(pat("updated_booleans") == 1L, pat)
    // structural invariants across every table: the removal split sums to
    // the total, and only patient carries fill counters
    r.accounting.foreach { case (name, acc) =>
      val s = acc.summary
      assert(s("rows_before") - s("rows_after") == s("rows_removed"), s"$name: $s")
      if (s.contains("rows_removed_null_keys"))
        assert(s("rows_removed_null_keys") + s("rows_removed_dedup") == s("rows_removed"),
          s"$name: $s")
      if (name != "patient") assert(!s.contains("filled_values"), s"$name: $s")
    }
    // careplan has no null-key drop → no split, only before/after
    assert(!r.accounting("careplan").summary.contains("rows_removed_null_keys"))
  }
}
