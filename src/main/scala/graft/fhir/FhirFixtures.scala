package graft.fhir

/** Deterministic FHIR Bundle fixtures (FIXTURES.md §1 — the reference's
  * sample data was stripped from its repo, so behavior is pinned by
  * constructed bundles). Shared by FhirPipelineSpec and the
  * `fhir_pipeline` verify query.
  */
object FhirFixtures {

  val bundle1: String =
    """{"resourceType":"Bundle","type":"collection","entry":[
      |{"fullUrl":"urn:uuid:pat-1","resource":{
      |  "resourceType":"Patient","id":"pat-1","gender":"female",
      |  "birthDate":"1980-05-01","multipleBirthInteger":2,
      |  "address":[{"line":["12 Oak St","Apt 3"],"city":"Springfield","state":"MA","postalCode":"01101",
      |    "extension":[{"extension":[
      |      {"url":"latitude","valueDecimal":42.1},
      |      {"url":"longitude","valueDecimal":-72.5}]}]}],
      |  "telecom":[{"system":"email","value":"x@y.z"},{"system":"phone","value":"555-123-4567"}],
      |  "name":[{"given":["Ada"],"family":"Lovelace"}],
      |  "extension":[
      |    {"url":"http://hl7.org/fhir/StructureDefinition/us-core-race",
      |     "valueCodeableConcept":{"coding":[{"display":"White","code":"2106-3"}]}},
      |    {"url":"http://hl7.org/fhir/StructureDefinition/us-core-ethnicity",
      |     "valueCodeableConcept":{"coding":[{"display":"Nonhispanic","code":"2186-5"}]}},
      |    {"url":"http://standardhealthrecord.org/fhir/extensions/placeOfBirth",
      |     "valueAddress":{"city":"Boston","state":"MA"}}],
      |  "maritalStatus":{"coding":[{"code":"M"}]}}},
      |{"fullUrl":"urn:uuid:enc-1","resource":{
      |  "resourceType":"Encounter","id":"enc-1","status":"finished",
      |  "class":{"code":"ambulatory"},
      |  "patient":{"reference":"urn:uuid:pat-1"},
      |  "period":{"start":"2015-02-02T10:00:00-05:00","end":"2015-01-01T10:00:00-05:00"},
      |  "type":[{"coding":[{"code":"185349003"}],"text":"Checkup"}],
      |  "reason":{"coding":[{"code":"44054006","display":"Diabetes"}]}}},
      |{"fullUrl":"urn:uuid:con-1","resource":{
      |  "resourceType":"Condition","id":"con-1","clinicalStatus":"active",
      |  "verificationStatus":"confirmed",
      |  "subject":{"reference":"urn:uuid:pat-1"},
      |  "context":{"reference":"urn:uuid:enc-1"},
      |  "onsetDateTime":"2014-01-01T00:00:00-05:00",
      |  "abatementDateTime":"not-a-date",
      |  "code":{"coding":[{"display":"Diabetes","code":"44054006"}]}}},
      |{"fullUrl":"urn:uuid:obs-1","resource":{
      |  "resourceType":"Observation","id":"obs-1","status":"final",
      |  "subject":{"reference":"urn:uuid:pat-1"},
      |  "encounter":{"reference":"urn:uuid:enc-1"},
      |  "effectiveDateTime":"2015-01-01T10:30:00-05:00",
      |  "valueQuantity":{"value":6.2,"unit":"%"},
      |  "code":{"coding":[{"display":"HbA1c","code":"4548-4"}]}}},
      |{"fullUrl":"urn:uuid:imm-1","resource":{
      |  "resourceType":"Immunization","status":"completed",
      |  "date":"2015-01-01T10:45:00-05:00",
      |  "patient":{"reference":"urn:uuid:pat-1"},
      |  "encounter":{"reference":"urn:uuid:enc-1"},
      |  "wasNotGiven":false,"primarySource":true,
      |  "vaccineCode":{"coding":[{"display":"Influenza","code":"140"}]}}},
      |{"fullUrl":"urn:uuid:cp-1","resource":{
      |  "resourceType":"CarePlan","status":"active",
      |  "subject":{"reference":"urn:uuid:pat-1"},
      |  "context":{"reference":"urn:uuid:enc-1"},
      |  "period":{"start":"2015-03-01","end":"2015-01-01"},
      |  "category":[{"coding":[{"display":"Diabetes self management plan","code":"698360004"}]}],
      |  "activity":[
      |    {"detail":{"code":{"coding":[{"display":"Diabetic diet","code":"160670007"}]}}},
      |    {"detail":{"code":{"coding":[]}}},
      |    {"detail":{"code":{"coding":[{"display":"Exercise therapy","code":"229065009"}]}}}]}}
      |]}""".stripMargin

  /** Duplicate patient id (keep-first dedup), invalid phone/date, an
    * out-of-range latitude, and a race extension under the MODERN US-Core
    * url (bundle1 uses the reference's literal urls — both variants must
    * extract).
    */
  val bundle2: String =
    """{"resourceType":"Bundle","type":"collection","entry":[
      |{"fullUrl":"urn:uuid:zzz-dup","resource":{
      |  "resourceType":"Patient","id":"pat-1","gender":"female","birthDate":"1980-05-01"}},
      |{"fullUrl":"urn:uuid:pat-2","resource":{
      |  "resourceType":"Patient","id":"pat-2","gender":"other","birthDate":"03/04/1999",
      |  "address":[{"line":["1 Elm"],"city":"Nowhere","state":"KS","postalCode":"66000",
      |    "extension":[{"extension":[
      |      {"url":"latitude","valueDecimal":95.0},
      |      {"url":"longitude","valueDecimal":-72.5}]}]}],
      |  "telecom":[{"system":"phone","value":"bogus-phone"}],
      |  "name":[{"given":["Solo"]}],
      |  "extension":[
      |    {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race",
      |     "valueCodeableConcept":{"coding":[{"display":"Asian","code":"2028-9"}]}}]}}
      |]}""".stripMargin

  /** Both fixture bundles written to ONE per-JVM temp directory — the
    * registry queries (`fhir_pipeline`, `fhir_tables`) and any spec can
    * share it instead of leaking a fresh directory per invocation in
    * long-lived sessions; it is deleted at JVM exit.
    */
  lazy val fixtureDir: String = {
    val dir = graft.TempRoots.create("graft_fhir_fixtures")
    java.nio.file.Files.writeString(dir.resolve("b1.json"), bundle1)
    java.nio.file.Files.writeString(dir.resolve("b2.json"), bundle2)
    dir.toString
  }

  /** Where the Verify harness materializes [[BundleReader.normalizedEntries]]
    * as parquet. The `fhir_*_oracle` DuckDB SQL re-derives each cleaned table
    * from THIS parquet, so the engine and the oracle share one input and the
    * hash compare pins extraction (A1–A12) + cleaning (C1–C6) end-to-end —
    * not just row counts. Absolute path (the oracle runs driver-side with an
    * unknown cwd), resolved once per JVM so dump and SQL always agree.
    */
  lazy val entriesDumpDir: String =
    new java.io.File("target/verify-fhir-entries").getAbsolutePath

  /** Materialize the normalized entry rows for the oracle side. Verify calls
    * this once before running the registry; the write is fixture-sized.
    */
  def dumpNormalizedEntries(spark: org.apache.spark.sql.SparkSession): Unit =
    BundleReader.normalizedEntries(spark, fixtureDir)
      .coalesce(1).write.mode("overwrite").parquet(entriesDumpDir)
}
