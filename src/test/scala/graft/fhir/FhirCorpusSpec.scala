package graft.fhir

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The scale-corpus generator and its ground-truth fold
  * (`FhirCorpus.expectedRows`) vs the REAL pipeline — the in-process twin
  * of the `fhir_scale` gate, at a size cheap enough for every test run.
  */
class FhirCorpusSpec extends SparkSpec {

  private val N = 300

  private lazy val dir: String = {
    val p = graft.TempRoots.create("graft_fhir_corpus_spec")
    FhirCorpus.generate(p, N)
    p.toString
  }

  test("bundles are well-formed JSON and shard across subdirectories") {
    // every file parses under the PERMISSIVE corrupt-capturing read
    val (entries, corrupt) = BundleReader.readEntriesWithCorrupt(spark, dir)
    assert(corrupt.count() == 0, "generator emitted unparseable JSON")
    assert(entries.count() > N * 4L, "suspiciously few entries per bundle")
    val shards = new java.io.File(dir).listFiles().count(_.isDirectory)
    assert(shards == 16, s"expected 16 shard dirs, got $shards")
  }

  test("full pipeline over the corpus matches the generator's arithmetic prediction") {
    val entries = BundleReader.normalizedEntries(spark, dir).cache()
    val tables = Cleaning.all(Extractors.allTables(entries))
    val expected = FhirCorpus.expectedRows(N).map(r => r.table -> r).toMap

    def q(c: String) = col(s"`$c`")
    for ((name, df) <- tables) {
      val e = expected(name)
      val n = df.count()
      assert(n == e.n_rows, s"$name rows: engine $n vs predicted ${e.n_rows}")
      val nPat = df.agg(countDistinct(col("patient_id"))).head.getLong(0)
      assert(nPat == e.n_patients, s"$name patients: $nPat vs ${e.n_patients}")
    }
    // spot-check the cleaner-specific counters on patient
    val p = tables("patient")
    val ep = expected("patient")
    val row = p.agg(
      sum(when(q("resource.birthDate").isNull, 1L).otherwise(0L)),
      sum(when(q("contact_number").isNull, 1L).otherwise(0L)),
      sum(when(q("latitude").isNull, 1L).otherwise(0L)),
      sum(when(q("resource.multipleBirthInteger") === 0, 1L).otherwise(0L)),
      sum(when(q("race").isNotNull, 1L).otherwise(0L))).head
    assert(row.getLong(0) == ep.n_date_null, "C1 birthDate nullify count drifted")
    assert(row.getLong(1) == ep.n_phone_null, "C2 phone nullify count drifted")
    assert(row.getLong(2) == ep.n_geo_null, "C3 latitude nullify count drifted")
    assert(row.getLong(3) == ep.n_mb_zero, "C6 multipleBirth fill count drifted")
    assert(row.getLong(4) == ep.n_race, "A4 race extraction count drifted")
    // and the C4-swap evidence on encounter: every complete pair is ordered
    val enc = tables("encounter")
    val pairs = enc.agg(
      sum(when(q("resource.period.start").isNotNull && q("resource.period.end").isNotNull
        && q("resource.period.start") <= q("resource.period.end"), 1L).otherwise(0L)),
      sum(when(q("resource.period.start").isNotNull && q("resource.period.end").isNotNull
        && q("resource.period.start") > q("resource.period.end"), 1L).otherwise(0L))).head
    assert(pairs.getLong(0) == expected("encounter").n_pairs_ordered)
    assert(pairs.getLong(1) == 0L, "C4 left an inverted period pair")
    entries.unpersist()
  }

  test("a truncated bundle in the corpus is quarantined, not fatal, and costs only itself") {
    // copy the corpus and wound one file — the PERMISSIVE read must keep
    // every other bundle and name the bad one
    val wounded = graft.TempRoots.create("graft_fhir_wounded")
    val src = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.filter(p =>
      java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".json")).foreach { p =>
      val rel = src.relativize(p)
      val dst = wounded.resolve(rel.toString)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(p, dst)
    } finally walk.close()
    val victim = wounded.resolve("shard-03").resolve("p000003.json")
    val full = java.nio.file.Files.readString(victim)
    java.nio.file.Files.writeString(victim, full.take(full.length / 2))
    val (entries, corrupt) = BundleReader.readEntriesWithCorrupt(spark, wounded.toString)
    val bad = corrupt.collect()
    assert(bad.length == 1, s"expected exactly one quarantined file, got ${bad.length}")
    assert(bad.head.getAs[String]("file").endsWith("p000003.json"))
    val healthy = BundleReader.readEntries(spark, dir).count()
    val healthyMinusVictim = healthy -
      BundleReader.readEntries(spark, src.resolve("shard-03").resolve("p000003.json").toString).count()
    assert(entries.count() == healthyMinusVictim,
      "quarantine cost more than the one wounded bundle")
  }

  test("compacted staging read == direct bundle read, table by table") {
    val out = graft.TempRoots.create("graft_fhir_compact").toString
    BundleReader.compactEntries(spark, dir, out, partitions = 2)
    val direct = Cleaning.all(Extractors.allTables(
      BundleReader.normalizedEntries(spark, dir)))
    val staged = Cleaning.all(Extractors.allTables(
      BundleReader.entriesFromCompacted(spark, out)))
    for ((name, d) <- direct) {
      val s = staged(name)
      assert(s.schema == d.schema, s"$name schema drifted through compaction")
      assert(d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty,
        s"$name rows differ between direct and compacted reads")
    }
  }

  test("generation is deterministic and idempotent") {
    assert(FhirCorpus.bundleJson(7) == FhirCorpus.bundleJson(7))
    // marker short-circuits: a second generate must not rewrite files
    val p = java.nio.file.Paths.get(dir)
    val before = java.nio.file.Files.getLastModifiedTime(
      p.resolve("shard-00").resolve("p000000.json"))
    FhirCorpus.generate(p, N)
    val after = java.nio.file.Files.getLastModifiedTime(
      p.resolve("shard-00").resolve("p000000.json"))
    assert(before == after, "idempotent generate rewrote an existing corpus")
  }

  test("comorbidity: distributed lift over the corpus == naive trait-fold prediction") {
    val cond = Cleaning.all(Extractors.allTables(
      BundleReader.normalizedEntries(spark, dir)))("condition")
    val engine = graft.ops.GraphOps.cooccurrenceLift(
      cond.select(col("patient_id"), col("condition_display")),
      "patient_id", "condition_display", minCount = 2L)
      .orderBy("item_a", "item_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val predicted = FhirCorpus.expectedComorbidity(N)
      .map(r => (r.item_a, r.item_b, r.n_ab, r.lift))
    assert(engine == predicted, s"engine $engine vs predicted $predicted")
    // the designed structure: CKD is a strict subset of Hypertension, so
    // that pair must show the highest lift in the table
    val top = engine.maxBy(_._4)
    assert(Set(top._1, top._2) == Set("Chronic kidney disease", "Hypertension"),
      s"nested comorbidity must dominate: $top")
  }

  test("latest-obs pivot over the corpus == naive trait-fold prediction") {
    val obs = Cleaning.all(Extractors.allTables(
      BundleReader.normalizedEntries(spark, dir)))("observation")
    val engine = graft.ops.TimeSeries.pivotLatest(
      obs.select(col("patient_id"), col("observation_type"),
        col("`resource.effectiveDateTime`").as("eff"),
        col("`resource.valueQuantity.value`").as("v"),
        col("`resource.id`").as("rid")),
      "patient_id", "observation_type", "eff", "v", Seq("HbA1c"), "rid")
      .orderBy("patient_id")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val predicted = FhirCorpus.expectedLatestObs(N)
      .map(r => (r.patient_id, r.hba1c_value))
    assert(engine == predicted,
      s"first diffs: ${engine.zip(predicted).filter(p => p._1 != p._2).take(3)}")
    // the obsBadDate single-observation patient (i=47*k with nObs==1,
    // i.e. i even) must be ABSENT — its only date was C1-nullified
    val absent = (0 until N).filter(i =>
      i % 47 == 0 && (1 + i % 2) == 1).map(i => f"pat-$i%06d")
    val present = engine.map(_._1).toSet
    absent.foreach(p => assert(!present.contains(p), s"$p must have no pivot row"))
  }
}
