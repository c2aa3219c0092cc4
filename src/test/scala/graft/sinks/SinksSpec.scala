package graft.sinks

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** S4–S7 sink tests. JDBC runs against embedded Derby (ships with Spark
  * for the Hive metastore) — same `df.write.jdbc` path as the reference's
  * PostgreSQL load, minus the server.
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("underscored renames dotted columns only") {
    val df = Seq((1, "x")).toDF("resource.id", "plain")
    assert(Sinks.underscored(df).columns.toSeq == Seq("resource_id", "plain"))
  }

  test("S5/S6 JDBC write + read back (Derby embedded)") {
    val dir = graft.TempRoots.create("derby_db")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Seq(("a-1", "p-1", 1.5), ("a-2", "p-2", 2.5))
      .toDF("resource.id", "patient_id", "value")
    // typed DDL (S5): Derby's default string mapping is CLOB, which is
    // non-comparable — exactly what createTableColumnTypes exists for
    Sinks.writeJdbc(df, url, "observation", props,
      columnTypes = Some("resource_id VARCHAR(64), patient_id VARCHAR(64)"))
    val back = spark.read.jdbc(url, "observation", props)
    assert(back.columns.toSeq == Seq("resource_id", "patient_id", "value"))
    assert(back.count() == 2)
    assert(back.filter($"resource_id" === "a-1").select("value").as[Double].head() == 1.5)
  }

  test("JDBC partitioned read-back: stride scan covers all rows across >=2 input partitions") {
    val dir = graft.TempRoots.create("derby_db_rb")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = (1L to 100L).map(i => (i, s"doc-$i")).toDF("doc_id", "name")
    Sinks.writeJdbc(df, url, "documents", props,
      columnTypes = Some("name VARCHAR(64)"))
    // explicit bounds: 4 strides over [1, 100]
    val back = Sinks.readJdbcPartitioned(spark, url, "documents", props,
      "doc_id", lowerBound = 1L, upperBound = 100L, numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4, "plan must carry 4 input partitions")
    assert(back.count() == 100L)
    assert(back.agg(org.apache.spark.sql.functions.sum("doc_id"))
      .as[Long].head() == 5050L, "strides must cover every row exactly once")
    // rows OUTSIDE the bounds still land in the edge strides
    val narrow = Sinks.readJdbcPartitioned(spark, url, "documents", props,
      "doc_id", lowerBound = 40L, upperBound = 60L, numPartitions = 3)
    assert(narrow.count() == 100L, "bounds tune parallelism, never drop rows")
    // auto-bounds resolves MIN/MAX driver-side and strides the same scan
    val auto = Sinks.readJdbcAutoBounds(spark, url, "documents", props,
      "doc_id", numPartitions = 4)
    assert(auto.rdd.getNumPartitions == 4)
    assert(auto.count() == 100L)
    // predicate pushdown: the generated remote SELECT carries the filter
    val filtered = back.filter($"doc_id" <= 10L)
    assert(filtered.count() == 10L)
    // empty table: auto-bounds falls back to a single-connection read
    Sinks.writeJdbc(df.limit(0), url, "empty_docs", props,
      columnTypes = Some("name VARCHAR(64)"))
    val empty = Sinks.readJdbcAutoBounds(spark, url, "empty_docs", props,
      "doc_id", numPartitions = 4)
    assert(empty.count() == 0L)
  }

  test("JDBC auto-bounds: dialect-quoted identifiers round-trip mixed case; bad keys/fragments fail fast") {
    val dir = graft.TempRoots.create("derby_db_mc")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = (1L to 20L).map(i => (i, s"doc-$i")).toDF("docId", "name")
    // pre-quoted table fragment: CREATE TABLE "MixedDocs" — Derby folds
    // unquoted names to UPPER case, so the probe only finds this table
    // if it passes the fragment through verbatim (Spark's own contract)
    Sinks.writeJdbc(df, url, "\"MixedDocs\"", props,
      columnTypes = Some("name VARCHAR(64)"))
    // the probe's COLUMN quoting must match Spark's case-exact writer
    // quoting ("docId", not DOCID) or the MIN/MAX probe can't resolve it
    val auto = Sinks.readJdbcAutoBounds(spark, url, "\"MixedDocs\"", props,
      "docId", numPartitions = 3)
    assert(auto.rdd.getNumPartitions == 3)
    assert(auto.agg(org.apache.spark.sql.functions.sum("docId"))
      .as[Long].head() == 210L, "strides must cover every row exactly once")
    // non-integral partition key: up-front type check, not a silent
    // getLong truncation at runtime
    val e = intercept[IllegalArgumentException] {
      Sinks.readJdbcAutoBounds(spark, url, "\"MixedDocs\"", props,
        "name", numPartitions = 2)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // statement-breaking fragment rejected before any connection opens
    val frag = intercept[IllegalArgumentException] {
      Sinks.readJdbcAutoBounds(spark, url, "docs; DROP TABLE docs", props,
        "docId", numPartitions = 2)
    }
    assert(frag.getMessage.contains("fragment"), frag.getMessage)
  }

  test("JDBC auto-bounds: DECIMAL scale-0 keys stride (the Oracle/DB2 surrogate-key shape); fractional scales still fail fast") {
    val dir = graft.TempRoots.create("derby_db_dec")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    // hand DDL (not the Spark writer): the point is the exact column
    // type Oracle (NUMBER) and DB2 report integer surrogates as —
    // java.sql.Types.DECIMAL at scale 0
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE DEC_DOCS (K DECIMAL(10,0), F DECIMAL(10,2), NAME VARCHAR(64))")
      st.close()
      val ins = conn.prepareStatement("INSERT INTO DEC_DOCS VALUES (?, ?, ?)")
      (1 to 20).foreach { i =>
        ins.setLong(1, i.toLong)
        ins.setBigDecimal(2, new java.math.BigDecimal(s"$i.50"))
        ins.setString(3, s"doc-$i")
        ins.executeUpdate()
      }
      ins.close()
    } finally conn.close()
    // scale-0 DECIMAL strides like any integral key — getLong reads it
    // without truncation, so the up-front check must let it through
    val auto = Sinks.readJdbcAutoBounds(spark, url, "DEC_DOCS", props,
      "K", numPartitions = 3)
    assert(auto.rdd.getNumPartitions == 3)
    assert(auto.agg(org.apache.spark.sql.functions.sum($"K".cast("long")))
      .as[Long].head() == 210L, "strides must cover every row exactly once")
    // a genuinely FRACTIONAL decimal key keeps the fail-fast: striding
    // it through getLong would silently truncate
    val e = intercept[IllegalArgumentException] {
      Sinks.readJdbcAutoBounds(spark, url, "DEC_DOCS", props,
        "F", numPartitions = 2)
    }
    assert(e.getMessage.contains("scale"), e.getMessage)
  }

  test("S7 FK-ordered multi-table read-back mirrors the load walk") {
    val dir = graft.TempRoots.create("derby_db_rb2")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val tables = Sinks.LoadOrder.map(n => n -> Seq((s"$n-1", 1)).toDF("id", "v")).toMap
    Sinks.writeAllJdbc(tables, url, props)
    val back = Sinks.readAllJdbc(spark, url, props)
    assert(back.map(_._1) == Sinks.LoadOrder, "parent-first order preserved")
    back.foreach { case (n, d) =>
      assert(d.select("id").as[String].head() == s"$n-1", s"table $n")
    }
  }

  test("S7 FK-ordered multi-table load") {
    val dir = graft.TempRoots.create("derby_db2")
    val url = s"jdbc:derby:$dir/testdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val tables = Sinks.LoadOrder.map(n => n -> Seq((s"$n-1", 1)).toDF("id", "v")).toMap
    Sinks.writeAllJdbc(tables, url, props)
    Sinks.LoadOrder.foreach { n =>
      assert(spark.read.jdbc(url, n, props).count() == 1, s"table $n")
    }
  }

  test("catalog registration: FHIR tables as external parquet tables, FK order, SQL-addressable, stats") {
    val dir = graft.TempRoots.create("fhir_cat")
    Files.writeString(dir.resolve("b1.json"), graft.fhir.FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), graft.fhir.FhirFixtures.bundle2)
    val entries = graft.fhir.BundleReader.normalizedEntries(spark, dir.toString)
    val tables = graft.fhir.Cleaning.all(graft.fhir.Extractors.allTables(entries))
    val wh = graft.TempRoots.create("fhir_wh")
    Sinks.registerAllCatalog(spark, tables, "graft_wh", wh.toString, analyze = true)
    // FK-ordered read-back by catalog NAME
    val back = Sinks.readAllCatalog(spark, "graft_wh")
    assert(back.map(_._1) == Sinks.LoadOrder, "parent-first order preserved")
    back.foreach { case (n, d) =>
      assert(d.count() == tables(n).count(), s"table $n row count through catalog")
    }
    // cross-table FK join addressed purely through the catalog (note
    // `condition` needs quoting — a keyword table name must round-trip)
    val joined = spark.sql(
      """SELECT count(*) FROM graft_wh.patient p
        |JOIN graft_wh.`condition` c ON p.patient_id = c.patient_id""".stripMargin)
      .as[Long].head()
    assert(joined >= 1L, "FK join through catalog names must hit")
    // EXTERNAL: the data lives at the caller's path, not the warehouse
    assert(new java.io.File(wh.toFile, "patient").exists, "external location honored")
    // ANALYZE ran: catalog-level statistics exist for the optimizer
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft_wh.patient")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("Statistics"), s"expected catalog stats, got:\n$desc")
    // re-registration overwrites idempotently (the daily-load shape)
    Sinks.registerAllCatalog(spark, tables, "graft_wh", wh.toString)
    assert(spark.table("graft_wh.patient").count() == tables("patient").count())
    // bad database names are rejected before any SQL is issued
    val e = intercept[IllegalArgumentException] {
      Sinks.registerAllCatalog(spark, tables, "bad db; drop", wh.toString)
    }
    assert(e.getMessage.contains("identifier"), e.getMessage)
  }

  test("PostgreSQL dialect golden DDL: emitted CREATE TABLEs pin to json_pipeline.py:743-850") {
    // No live Postgres exists offline, so the evidence is the exact DDL
    // stream: the REAL PostgresDialect (JdbcDialects.get on a postgres
    // url) + the REAL writer renderer (JdbcUtils.schemaString) over the
    // same frames writeAllJdbcReference loads. Pinned verbatim — any
    // drift in dialect mapping, column order, date coercion, or
    // quoting fails here. Documented deviations from the reference's
    // literal DDL (see ReferenceDdl scaladoc): TEXT → bounded VARCHAR
    // (255 ids / 4096 free text), Postgres FLOAT (=FLOAT8) → FLOAT4 via
    // the declared Spark FloatType, and NOT NULL where the cleaned
    // frame's schema proves the column never null (constant-fill C6).
    val dir = graft.TempRoots.create("fhir_pg_ddl")
    Files.writeString(dir.resolve("b1.json"), graft.fhir.FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), graft.fhir.FhirFixtures.bundle2)
    val entries = graft.fhir.BundleReader.normalizedEntries(spark, dir.toString)
    val tables = graft.fhir.Cleaning.all(graft.fhir.Extractors.allTables(entries))
    val expected = Map(
      "patient" ->
        ("""CREATE TABLE patient ("fullUrl" VARCHAR(255) , "resource_id" VARCHAR(255) , """ +
          """"resource_gender" VARCHAR(4096) , "resource_birthDate" DATE , """ +
          """"resource_multipleBirthBoolean" BOOLEAN , "patient_id" VARCHAR(255) , """ +
          """"resource_deceasedDateTime" VARCHAR(4096) , "resource_multipleBirthInteger" INTEGER NOT NULL, """ +
          """"latitude" FLOAT4 , "longitude" FLOAT4 , "full_address" VARCHAR(4096) , """ +
          """"contact_number" VARCHAR(4096) , "first_name" VARCHAR(4096) , "last_name" VARCHAR(4096) , """ +
          """"full_name" VARCHAR(4096) , "race" VARCHAR(4096) , "race_code" VARCHAR(4096) , """ +
          """"ethnicity" VARCHAR(4096) , "ethnicity_code" VARCHAR(4096) , "birthplace" VARCHAR(4096) , """ +
          """"maritalStatus" VARCHAR(4096) )"""),
      "encounter" ->
        ("""CREATE TABLE encounter ("fullUrl" VARCHAR(255) , "resource_id" VARCHAR(255) , """ +
          """"resource_status" VARCHAR(4096) , "resource_class_code" VARCHAR(4096) , """ +
          """"resource_patient_reference" VARCHAR(255) , "resource_period_start" VARCHAR(4096) , """ +
          """"resource_period_end" VARCHAR(4096) , "patient_id" VARCHAR(255) , """ +
          """"encounter_type_code" VARCHAR(4096) , "encounter_text" VARCHAR(4096) , """ +
          """"reason_code" VARCHAR(4096) , "reason_display" VARCHAR(4096) )"""),
      "condition" ->
        ("""CREATE TABLE condition ("fullUrl" VARCHAR(255) , "resource_id" VARCHAR(255) , """ +
          """"resource_clinicalStatus" VARCHAR(4096) , "resource_verificationStatus" VARCHAR(4096) , """ +
          """"resource_subject_reference" VARCHAR(255) , "resource_context_reference" VARCHAR(255) , """ +
          """"resource_onsetDateTime" VARCHAR(4096) , "patient_id" VARCHAR(255) , """ +
          """"resource_abatementDateTime" VARCHAR(4096) , "condition_display" VARCHAR(4096) , """ +
          """"condition_code" VARCHAR(4096) )"""),
      "observation" ->
        ("""CREATE TABLE observation ("fullUrl" VARCHAR(255) , "resource_id" VARCHAR(255) , """ +
          """"resource_status" VARCHAR(4096) , "resource_subject_reference" VARCHAR(255) , """ +
          """"resource_encounter_reference" VARCHAR(255) , "resource_effectiveDateTime" VARCHAR(4096) , """ +
          """"resource_valueQuantity_value" FLOAT4 , "resource_valueQuantity_unit" VARCHAR(4096) , """ +
          """"patient_id" VARCHAR(255) , "observation_type" VARCHAR(4096) , """ +
          """"observation_code" VARCHAR(4096) )"""),
      "immunization" ->
        ("""CREATE TABLE immunization ("resource_status" VARCHAR(4096) , "resource_date" DATE , """ +
          """"resource_patient_reference" VARCHAR(255) , "resource_wasNotGiven" BOOLEAN , """ +
          """"resource_primarySource" BOOLEAN , "resource_encounter_reference" VARCHAR(255) , """ +
          """"patient_id" VARCHAR(255) , "vaccine_type" VARCHAR(4096) , "vaccine_code" VARCHAR(4096) )"""),
      "careplan" ->
        ("""CREATE TABLE careplan ("resource_status" VARCHAR(4096) , "resource_subject_reference" VARCHAR(255) , """ +
          """"resource_context_reference" VARCHAR(255) , "resource_period_start" VARCHAR(4096) , """ +
          """"patient_id" VARCHAR(255) , "resource_period_end" VARCHAR(4096) , "careplan_name" VARCHAR(4096) , """ +
          """"careplan_code" VARCHAR(4096) , "careplan_activity" VARCHAR(4096) , """ +
          """"careplan_activity_code" VARCHAR(4096) )"""))
    Sinks.LoadOrder.foreach { n =>
      assert(Sinks.postgresCreateTableDdl(n, tables(n)) == expected(n), s"table $n")
    }
    // every DATE the reference declares (json_pipeline.py:748,824) is a
    // real DATE in the emitted DDL — the coercion happened, not a VARCHAR
    assert(expected("patient").contains("\"resource_birthDate\" DATE") &&
      expected("immunization").contains("\"resource_date\" DATE"))
    // the PRIMARY KEY statement stream for Postgres (json_pipeline.py:750):
    // SQL-standard SET NOT NULL (vs Derby's dialect) then ADD PRIMARY KEY
    assert(Sinks.primaryKeyStatements("jdbc:postgresql://localhost/graft") ==
      Seq("""ALTER TABLE patient ALTER COLUMN "patient_id" SET NOT NULL""",
        """ALTER TABLE patient ADD PRIMARY KEY ("patient_id")"""))
  }

  test("ReferenceDdl: column sets match the cleaned tables; reference type quirks encoded") {
    // the DDL column lists must track the actual pipeline output schemas
    val dir = graft.TempRoots.create("fhir_ddl")
    Files.writeString(dir.resolve("b1.json"), graft.fhir.FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), graft.fhir.FhirFixtures.bundle2)
    val entries = graft.fhir.BundleReader.normalizedEntries(spark, dir.toString)
    val tables = graft.fhir.Cleaning.all(graft.fhir.Extractors.allTables(entries))
    ReferenceDdl.columns.foreach { case (name, cols) =>
      assert(Sinks.underscored(tables(name)).columns.toSeq == cols.map(_._1), s"table $name")
    }
    // the reference's quirks (json_pipeline.py:748,751,824,750)
    val patient = ReferenceDdl.columns("patient").toMap
    assert(patient("resource_birthDate") == "DATE")
    assert(patient("resource_deceasedDateTime") == "VARCHAR(4096)", "deceased stays TEXT")
    // free-text columns that exceed 255 chars on realistic data carry the
    // wide TEXT-equivalent; id/reference columns stay index-key-sized
    assert(ReferenceDdl.columns("careplan").toMap.apply("careplan_activity") == "VARCHAR(4096)")
    assert(patient("full_address") == "VARCHAR(4096)")
    assert(patient("patient_id") == "VARCHAR(255)")
    assert(ReferenceDdl.columns("immunization").toMap.apply("resource_date") == "DATE")
    assert(ReferenceDdl.primaryKeys == Map("patient" -> Seq("patient_id")))
  }

  test("ReferenceDdl roundtrip: patient loads into Derby with typed columns") {
    val dir = graft.TempRoots.create("fhir_ddl_db")
    Files.writeString(dir.resolve("b1.json"), graft.fhir.FhirFixtures.bundle1)
    Files.writeString(dir.resolve("b2.json"), graft.fhir.FhirFixtures.bundle2)
    val entries = graft.fhir.BundleReader.normalizedEntries(spark, dir.toString)
    val tables = graft.fhir.Cleaning.all(graft.fhir.Extractors.allTables(entries))
    val url = s"jdbc:derby:$dir/ddldb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.DerbyCompat.register()
    Sinks.writeAllJdbcReference(tables, url, props, applyConstraints = true)
    val back = spark.read.jdbc(url, "patient", props)
    assert(back.count() == 2)
    // DATE column came back typed, not as a string
    assert(back.schema("resource_birthDate").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(back.filter($"resource_id" === "pat-1")
      .select($"resource_birthDate".cast("string")).as[String].head() == "1980-05-01")
    // the immunization datetime→DATE quirk truncates like Postgres
    val imm = spark.read.jdbc(url, "immunization", props)
    assert(imm.schema("resource_date").dataType == org.apache.spark.sql.types.DateType)
    assert(imm.select($"resource_date".cast("string")).as[String].head() == "2015-01-01")
    // the PRIMARY KEY (json_pipeline.py:750) is actually enforced: a
    // duplicate patient_id insert must be rejected by the engine
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      val existing = back.select($"patient_id").as[String].head()
      val ex = intercept[java.sql.SQLException] {
        st.executeUpdate(
          s"""INSERT INTO patient ("fullUrl", "resource_id", "patient_id") VALUES ('u', 'r', '$existing')""")
      }
      assert(ex.getSQLState.startsWith("23"), s"expected integrity violation, got $ex")
      st.close()
    } finally conn.close()
  }

  test("compactParquet: fragmented table rewritten to few right-sized files, data intact") {
    val dir = graft.TempRoots.create("compact")
    val df = spark.range(10000).selectExpr("id", "id % 7 AS k")
    df.repartition(40).write.parquet(s"$dir/fragmented")
    def partFiles(p: String): Int =
      new java.io.File(p).listFiles().count(f => f.getName.startsWith("part-"))
    assert(partFiles(s"$dir/fragmented") == 40)
    val n = Sinks.compactParquet(spark, s"$dir/fragmented", s"$dir/compacted",
      targetFileBytes = 512L * 1024, sortCols = Seq("k"))
    assert(partFiles(s"$dir/compacted") == n && n < 10, s"expected few files, got $n")
    val back = spark.read.parquet(s"$dir/compacted")
    assert(back.count() == 10000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).as[Long].head() ==
      (0L until 10000L).sum)
  }

  test("orc sink roundtrip with predicate pushdown") {
    val dir = graft.TempRoots.create("orc_out")
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "k", "v")
    Sinks.writeOrc(df, s"$dir/t")
    val back = Sinks.readOrc(spark, s"$dir/t", df.schema)
    assert(back.count() == 3)
    // schema'd read-back preserves values and types exactly
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    val filtered = back.filter(col("id") > 1L)
    assert(filtered.count() == 2)
    // the filter must reach the ORC scan, not evaluate post-scan only
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), plan)
  }

  test("readParquetMerged: late columns surface as null on pre-evolution rows") {
    val dir = graft.TempRoots.create("merge_out")
    Sinks.writeParquet(Seq((1L, "a")).toDF("id", "x"), s"$dir/v1")
    Sinks.writeParquet(Seq((2L, "b", 9L)).toDF("id", "x", "extra"), s"$dir/v2")
    val merged = Sinks.readParquetMerged(spark, s"$dir/v1", s"$dir/v2")
      .select("id", "x", "extra")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(merged == Set((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("bucketed tables: equi-join on bucket keys runs with NO shuffle") {
    val dir = graft.TempRoots.create("bucketed")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Sinks.writeBucketed(orders, "b_orders", s"$dir/orders", 4,
      Seq("o_orderkey"), Seq("o_orderkey"))
    Sinks.writeBucketed(lineitem, "b_lineitem", s"$dir/lineitem", 4,
      Seq("l_orderkey"), Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so shuffle elision is what's under test
      // (a broadcast join would trivially have no exchange)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it computes the same thing as the unbucketed join
      val expected = orders.join(lineitem, col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("parquet sink with partitioning") {
    val dir = graft.TempRoots.create("pq_out")
    val df = Seq(("en", 1L), ("fr", 2L), ("en", 3L)).toDF("lang", "doc_id")
    Sinks.writeParquet(df, s"$dir/docs", partitionBy = Seq("lang"))
    assert(Files.exists(dir.resolve("docs/lang=en")), "hive-style partition dirs")
    val back = spark.read.parquet(s"$dir/docs")
    assert(back.count() == 3)
    // partition pruning: only the en partition is scanned
    val pruned = back.filter($"lang" === "en")
    assert(pruned.count() == 2)
  }

  test("jsonl roundtrip preserves embedded newlines/quotes; corrupt lines quarantine") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = graft.TempRoots.create("jsonl_spec")
    val docs = Seq(
      (1L, "plain"),
      (2L, "line one\nline two\t\"quoted\""),
      (3L, null: String))
      .toDF("doc_id", "text")
    Sinks.writeJsonl(docs, s"$dir/out")
    val back = Sinks.readJsonl(spark, s"$dir/out", schema)
      .as[(Long, Option[String])].collect().toMap
    assert(back == Map(1L -> Some("plain"),
      2L -> Some("line one\nline two\t\"quoted\""), 3L -> None))
    // a truncated record costs one quarantined row, not the batch
    Files.writeString(java.nio.file.Paths.get(s"$dir/out/zz_corrupt.json"),
      """{"doc_id": 9, "tex""")
    val (rows, corrupt) = Sinks.readJsonlWithCorrupt(spark, s"$dir/out", schema)
    assert(rows.count() == 3 && corrupt.count() == 1)
  }

  test("jsonl quarantine: blank lines are neither rows nor corrupt (exact partition)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = graft.TempRoots.create("jsonl_blank_spec")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      // blank variants: empty, space+tab, tab-only — trim() catches only
      // the first two; the \s-class filter must catch all three
      "{\"doc_id\": 1, \"text\": \"a\"}\n\n   \t\n\t\n{\"doc_id\": 2, \"text\"")
    val (rows, corrupt) = Sinks.readJsonlWithCorrupt(spark, s"$dir/in.json", schema)
    // the JSON reader silently skips blank lines; the corrupt probe must
    // agree, or rows+corrupt stops being a partition of the input
    assert(rows.count() == 1 && corrupt.count() == 1)
  }

  test("csv roundtrip preserves trailing whitespace, embedded commas and RFC-doubled quotes") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val dir = graft.TempRoots.create("csv_spec")
    val docs = Seq(
      (1L, "trailing space "),
      (2L, " leading, and \"quoted\" too"),
      (3L, null: String),
      (4L, "back\\slash"))
      .toDF("doc_id", "text")
    Sinks.writeCsv(docs, s"$dir/out")
    val back = Sinks.readCsv(spark, s"$dir/out", schema)
      .as[(Long, Option[String])].collect().toMap
    assert(back == Map(1L -> Some("trailing space "),
      2L -> Some(" leading, and \"quoted\" too"), 3L -> None,
      4L -> Some("back\\slash")))
    // and the bytes are standard CSV: embedded quotes doubled, not
    // backslash-escaped (pandas/DuckDB parity)
    val raw = spark.read.textFile(s"$dir/out").collect().mkString("\n")
    assert(raw.contains("\"\"quoted\"\""), raw)
    assert(!raw.contains("\\\"quoted"), raw)
  }
}
