package graft.fhir

import graft.{CachedFrames, FanOut, SparkSpec}
import graft.quality.FhirQuality
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** The dirty 2-bundle fixture as a bundle directory. */
  private def fixtureDir(): Path = {
    val in = graft.TempRoots.create("pipe_in")
    Files.writeString(in.resolve("b1.json"), FhirFixtures.bundle1)
    Files.writeString(in.resolve("b2.json"), FhirFixtures.bundle2)
    in
  }

  test("runToDir: full pipeline writes 6 tables + 2 quality summaries; cleaning visible in QC delta") {
    val in = fixtureDir()
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

    // G6 accounting: patient: 3 raw rows (pat-1, its duplicate, pat-2), none with null
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

  test("run: the JSON source is scanned exactly once") {
    val in = fixtureDir()
    val jsonBytes = Files.size(in.resolve("b1.json")) + Files.size(in.resolve("b2.json"))
    def bytesRead: Long =
      Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
        .map(_.getLong("bytesRead").longValue).getOrElse(0L)
    val before = bytesRead
    val r = Pipeline.run(spark, in.toString)
    val byRun = bytesRead - before
    // what a caller does next reads memory, not the source
    try {
      r.tables.values.foreach(_.write.format("noop").mode("overwrite").save())
      r.initialQuality.collect()
      r.finalQuality.collect()
    } finally CachedFrames.release(r.tables.values.toSeq: _*)
    val total = bytesRead - before
    assert(byRun == jsonBytes, s"run read $byRun bytes of a $jsonBytes-byte source")
    assert(total == jsonBytes, s"run and its sinks read $total bytes of a $jsonBytes-byte source")
  }

  test("run: QC frames equal the battery over the lazily derived tables, row for row") {
    val in = fixtureDir()
    val r = Pipeline.run(spark, in.toString)
    try {
      val raw = Extractors.allTables(BundleReader.normalizedEntries(spark, in.toString))
      Seq(r.initialQuality -> FhirQuality.runQualityChecks(raw),
          r.finalQuality -> FhirQuality.runQualityChecks(Cleaning.all(raw))).foreach {
        case (eager, lazyQ) =>
          assert(eager.schema == lazyQ.schema)
          assert(eager.collect().toSeq == lazyQ.collect().toSeq)
      }
    } finally CachedFrames.release(r.tables.values.toSeq: _*)
  }

  test("run: every accounting summary is complete when run returns") {
    val r = Pipeline.run(spark, fixtureDir().toString)
    try {
      r.accounting.foreach { case (name, acc) =>
        assert(acc.summary.contains("rows_before") && acc.summary.contains("rows_after"),
          s"$name: ${acc.summary}")
      }
      assert(!r.accounting("careplan").summary.contains("rows_removed_null_keys"))
      assert(r.accounting("patient").summary("rows_before") == 3L)
    } finally CachedFrames.release(r.tables.values.toSeq: _*)
  }

  test("run: every table's accounting matches the corpus generator's arithmetic") {
    val n = 50
    val in = graft.TempRoots.create("pipe_corpus")
    FhirCorpus.generate(in, n)
    val r = Pipeline.run(spark, in.toString)
    try {
      val entries = FhirCorpus.expectedEntryCounts(n).map { case (t, c) => t.toLowerCase -> c }.toMap
      val rows = FhirCorpus.expectedRows(n).map(e => e.table -> e.n_rows).toMap
      assert(r.accounting.keySet == rows.keySet)
      r.accounting.foreach { case (name, acc) =>
        val s = acc.summary
        assert(s("rows_before") == entries(name), s"$name: $s")
        assert(s("rows_after") == rows(name), s"$name: $s")
        assert(s("rows_removed") == s("rows_before") - s("rows_after"), s"$name: $s")
        if (name != "careplan")
          assert(s("rows_removed_null_keys") + s("rows_removed_dedup") == s("rows_removed"),
            s"$name: $s")
      }
    } finally CachedFrames.release(r.tables.values.toSeq: _*)
  }

  test("runToDir: no persisted frame and no pool thread remains") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val registered = CachedFrames.registeredCount
    Pipeline.runToDir(spark, fixtureDir().toString,
      graft.TempRoots.create("pipe_out").toString, format = "parquet")
    assert(sc.getPersistentRDDs.keySet -- persisted == Set.empty)
    assert(CachedFrames.registeredCount == registered)
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(FanOut.ThreadPrefix))
    val deadline = System.currentTimeMillis() + 5000
    while (poolThreads.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(poolThreads.isEmpty, poolThreads.map(_.getName))
  }
}
