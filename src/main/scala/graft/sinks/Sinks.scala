package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

/** Output sinks (SURVEY.md §2.1 S4–S7).
  *
  * CSV mirrors the reference's `to_csv(index=False)` ×6
  * (`json_pipeline.py:1058-1076`); JDBC replaces the psycopg2
  * `execute_values` batch loader (`json_pipeline.py:863-892`) — Spark
  * executors write partitions in parallel, with the FK parent/child
  * ordering preserved by sequencing the six table writes on the driver
  * (`json_pipeline.py:909-926`).
  */
object Sinks {

  /** P4 — the reference's `.`→`_` rename at load time
    * (`json_pipeline.py:869`).
    */
  def underscored(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.replace('.', '_')).toIndexedSeq: _*)

  /** S4 — CSV with header, overwrite. One directory per table (Spark
    * writes part files; at scale a single CSV file is an anti-pattern, so
    * no coalesce(1) here — callers who need one file can repartition).
    * Embedded quotes are escaped by RFC 4180 quote-doubling (`""`), not
    * Spark's default backslash — pandas `to_csv` parity, and what DuckDB
    * and every other standard CSV consumer parses natively. Leading and
    * trailing whitespace is written faithfully: Spark's writer TRIMS both
    * by default (ignore*WhiteSpace=true on write), silently corrupting
    * values that end in a space — caught by the csv_roundtrip_docs gate.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .option("escape", "\"").csv(path)

  /** Schema'd CSV read, symmetric with [[writeCsv]] (header + RFC 4180
    * quote-doubling). No inference pass; absent/empty fields arrive as
    * typed nulls.
    */
  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", true)
      .option("escape", "\"").csv(path)

  /** S5+S6 — JDBC load: Spark creates the table from the DataFrame schema
    * and appends partition-parallel batches. `batchsize` matches the
    * psycopg2 `execute_values` batching intent; `columnTypes` carries the
    * reference's typed DDL (`CREATE TABLE ... resource_id TEXT, latitude
    * FLOAT, ...`, `json_pipeline.py:743-850`) as Spark's
    * `createTableColumnTypes` (e.g. `"resource_id VARCHAR(64)"`).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 10000,
      columnTypes: Option[String] = None): Unit = {
    val w = underscored(df).write
      .mode("overwrite")
      .option("batchsize", batchSize)
    columnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, table, props)
  }

  /** JSON-Lines (one object per line) — the standard interchange format
    * for text corpora. Schema'd read: no inference pass over 100 TB, and
    * absent fields arrive as typed nulls. Spark's default JSON mode IS
    * line-delimited, so files split across executors (unlike multiLine).
    */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** [[readJsonl]] with malformed-line quarantine, same contract as the
    * FHIR bundle reader: (rows, corrupt) where corrupt carries one row per
    * unparseable LINE — at 100 TB one truncated record costs one
    * quarantined row, not the batch. Both frames are independent UNCACHED
    * scans (two passes): caching the parse to share one scan would pin the
    * whole corpus in the block store, which is the worse trade at scale —
    * the quarantine side is typically materialized once into a sink.
    */
  def readJsonlWithCorrupt(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_json, substring}
    // DROPMALFORMED keeps exactly the parseable rows with no corrupt
    // column in the plan — a corrupt-filtered PERMISSIVE read would trip
    // Spark's corrupt-column-only restriction under aggressive pruning
    // (e.g. a bare count())
    val rows = spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)
    // corrupt side as a TEXT scan + from_json's corrupt-record option
    // (PERMISSIVE from_json yields a row of nulls, never null, so the
    // embedded corrupt field is the malformed signal): avoids both
    // Spark's corrupt-column-only query restriction and the FHIR reader's
    // shared-scan cache (which would pin the corpus at 100 TB)
    val corrupt = spark.read.textFile(path).toDF("__line")
      // blank/whitespace-only lines are silently SKIPPED by Spark's JSON
      // reader (neither row nor malformed record) — exclude them here too
      // so rows + corrupt exactly partitions the non-blank input. Full
      // whitespace class, not trim(): trim strips only ASCII spaces, so a
      // tab-padded blank line would still reach the corrupt probe
      .filter(!col("__line").rlike("^\\s*$"))
      .filter(from_json(col("__line"),
          schema.add("_corrupt_record", "string"),
          java.util.Map.of("columnNameOfCorruptRecord", "_corrupt_record"))
        .getField("_corrupt_record").isNotNull)
      .select(substring(col("__line"), 1, 256).as("corrupt_prefix"))
    (rows, corrupt)
  }

  /** Partition-parallel JSONL writer (the corpus export twin of
    * [[readJsonl]]); JSON string escaping makes embedded newlines
    * roundtrip-safe.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S7 — FK-ordered multi-table load: patient (parent) first, then
    * children, matching the DDL dependency order.
    */
  val LoadOrder: Seq[String] =
    Seq("patient", "encounter", "condition", "observation", "immunization", "careplan")

  def writeAllJdbc(tables: Map[String, DataFrame], url: String,
      props: java.util.Properties,
      columnTypes: Map[String, String] = Map.empty): Unit =
    LoadOrder.foreach(name =>
      writeJdbc(tables(name), url, name, props, columnTypes = columnTypes.get(name)))

  /** S5–S7 with the reference's typed warehouse DDL
    * ([[ReferenceDdl.columnTypes]], `json_pipeline.py:743-850`) applied to
    * every table, DATE-declared columns cast to real dates first
    * ([[ReferenceDdl.coerceDates]]). With `applyConstraints` the
    * reference's key constraints (`patient_id PRIMARY KEY`,
    * `json_pipeline.py:750`) are added post-load — Spark's JDBC writer
    * cannot emit them in the CREATE TABLE.
    */
  def writeAllJdbcReference(tables: Map[String, DataFrame], url: String,
      props: java.util.Properties, applyConstraints: Boolean = false): Unit = {
    writeAllJdbc(
      tables.map { case (n, df) => n -> ReferenceDdl.coerceDates(n, underscored(df)) },
      url, props, ReferenceDdl.columnTypes)
    if (applyConstraints) applyPrimaryKeys(url, props)
  }

  /** Issue `ALTER TABLE … ADD PRIMARY KEY` for each declared key
    * ([[ReferenceDdl.primaryKeys]] by default) over a plain JDBC
    * connection. PRIMARY KEY demands NOT NULL columns and Spark-created
    * columns are nullable, so the columns are first altered NOT NULL —
    * Derby's `ALTER COLUMN c NOT NULL` vs the SQL-standard
    * `ALTER COLUMN c SET NOT NULL` (Postgres et al.), keyed on the url.
    * Fails loudly: a key the engine refuses (duplicate or null data) is a
    * data-integrity signal, not something to swallow.
    */
  def applyPrimaryKeys(url: String, props: java.util.Properties,
      keys: Map[String, Seq[String]] = ReferenceDdl.primaryKeys): Unit = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try primaryKeyStatements(url, keys).foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }

  /** JDBC read-back, single connection — the inverse of [[writeJdbc]].
    * The reference's warehouse tables exist to be CONSUMED downstream
    * (`json_pipeline.py:895-935` loads them in FK order for exactly
    * that); a user wiring this engine in front of a warehouse needs the
    * scan side too. This form opens ONE connection and streams the whole
    * table through it — fine for dimension-sized tables, wrong for
    * fact tables: use [[readJdbcPartitioned]] there. Filters and column
    * pruning push down to the remote engine either way (Spark's JDBC
    * source compiles `.filter`/`.select` into the generated SELECT).
    */
  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String, props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Partition-parallel JDBC read-back: `numPartitions` concurrent
    * connections, each scanning one stride of `partitionColumn`'s
    * `[lowerBound, upperBound]` range (Spark emits non-overlapping
    * `WHERE col >= x AND col < y` clauses that cover ALL rows — rows
    * outside the bounds land in the first/last stride, so bounds tune
    * parallelism, never correctness; only NULL partition-column rows
    * are excluded, per Spark's JDBC contract). This is the 100 TB shape:
    * a single-connection read serializes the warehouse scan through one
    * executor; a partitioned read spreads it across the cluster bounded
    * only by what the database can serve. Choose an indexed, roughly
    * uniform column (a surrogate key); a skewed column concentrates
    * stride mass exactly like a skewed shuffle key.
    */
  def readJdbcPartitioned(spark: org.apache.spark.sql.SparkSession,
      url: String, table: String, props: java.util.Properties,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be positive: $numPartitions")
    require(lowerBound <= upperBound,
      s"lowerBound > upperBound: $lowerBound, $upperBound")
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props)
  }

  /** [[readJdbcPartitioned]] with bounds resolved by ONE driver-side
    * `SELECT MIN(col), MAX(col)` over a plain connection — the idiom for
    * tables whose key range isn't known a priori (an aggregate the
    * warehouse answers from its index, not a scan). Falls back to a
    * single-partition read when the table is empty or the column is
    * all-NULL (no range exists to stride).
    *
    * Contracts (checked where checkable):
    *  - `partitionColumn` must be an INTEGRAL SQL type (the stride API is
    *    long-based) — including NUMERIC/DECIMAL at scale 0, the shape
    *    Oracle (NUMBER) and DB2 report integer surrogate keys as; the
    *    probe verifies the result-set type up front and fails with the
    *    offending type name rather than silently truncating a
    *    date/fractional-decimal key at `getLong`.
    *  - `partitionColumn` is quoted through the url's [[JdbcDialect]]
    *    (`quoteIdentifier`: double quotes ANSI, backticks MySQL — the
    *    same resolution Spark's own JDBC source uses), so mixed-case
    *    column names survive any engine's folding.
    *  - `table` is a SQL FRAGMENT, exactly as in Spark's
    *    `spark.read.jdbc`: a bare name (folded by the engine the same
    *    way the unquoting writer created it), a pre-quoted
    *    `"MixedCase"` identifier, or a `(subquery) alias` all pass
    *    through verbatim to both the probe and the partitioned read. It
    *    is therefore TRUSTED INPUT (pipeline code, not end users); a
    *    statement-breaking fragment is rejected up front.
    */
  def readJdbcAutoBounds(spark: org.apache.spark.sql.SparkSession,
      url: String, table: String, props: java.util.Properties,
      partitionColumn: String, numPartitions: Int): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be positive: $numPartitions")
    require(!table.contains(";") && !table.contains("--"),
      s"table must be an identifier or subquery fragment, not a statement: $table")
    val dialect = JdbcDialects.get(url)
    val qCol = dialect.quoteIdentifier(partitionColumn)
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    val bounds =
      try {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT MIN($qCol), MAX($qCol) FROM $table")
          try {
            val integral = Set(java.sql.Types.TINYINT, java.sql.Types.SMALLINT,
              java.sql.Types.INTEGER, java.sql.Types.BIGINT)
            val md = rs.getMetaData
            val sqlType = md.getColumnType(1)
            // NUMERIC/DECIMAL at scale 0 is how Oracle (NUMBER) and DB2
            // report integer surrogate keys — getLong reads them without
            // truncation, so they are integral for striding purposes; the
            // fail-fast stays for genuinely fractional scales and for
            // date/char types
            val exactScale0 =
              (sqlType == java.sql.Types.NUMERIC || sqlType == java.sql.Types.DECIMAL) &&
                md.getScale(1) == 0
            require(integral.contains(sqlType) || exactScale0,
              s"partitionColumn $partitionColumn must be an integral type " +
                s"(or NUMERIC/DECIMAL at scale 0); " +
                s"probe returned ${md.getColumnTypeName(1)} " +
                s"(java.sql.Types $sqlType, scale ${md.getScale(1)})")
            rs.next()
            val lo = rs.getLong(1); val loNull = rs.wasNull()
            val hi = rs.getLong(2); val hiNull = rs.wasNull()
            if (loNull || hiNull) None else Some((lo, hi))
          } finally rs.close()
        } finally st.close()
      } finally conn.close()
    bounds match {
      case Some((lo, hi)) if lo < hi =>
        readJdbcPartitioned(spark, url, table, props, partitionColumn,
          lo, hi, numPartitions)
      case _ => readJdbc(spark, url, table, props) // empty / single value
    }
  }

  /** FK-ordered multi-table read-back — the consumption twin of
    * [[writeAllJdbc]], mirroring the reference's parent-first load walk
    * (`json_pipeline.py:909-926`): the map iterates [[LoadOrder]] so a
    * caller materializing tables downstream touches parents before
    * children. Reads are lazy frames; ordering matters only to effects
    * the caller sequences over them.
    */
  def readAllJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
      props: java.util.Properties): Seq[(String, DataFrame)] =
    LoadOrder.map(name => name -> readJdbc(spark, url, name, props))

  /** Catalog-backed registration — the WAREHOUSE-facing twin of
    * [[writeAllJdbcReference]] (round 13): each cleaned FHIR table is
    * materialized as an EXTERNAL parquet table at `baseDir/<name>` and
    * registered in the session catalog (the Hive metastore when the
    * session enables one; Spark's in-memory catalog otherwise), walked
    * in the same FK parent-first [[LoadOrder]] and through the same
    * [[ReferenceDdl.coerceDates]] typing contract as the JDBC load.
    * Downstream consumers then address tables by NAME (`spark.table`,
    * `spark.sql`) with the layout owned by the catalog — which is what
    * makes bucketing ([[writeBucketed]]) and CBO statistics usable at
    * all: a bare `spark.read.parquet` sees files and loses both.
    * `analyze` runs `ANALYZE TABLE … COMPUTE STATISTICS` per table so
    * the cost-based optimizer sees row/byte counts (broadcast-side
    * election on the dimension tables, the 100 TB join lever).
    * `database` must be a plain identifier (it names a metastore
    * object, not a SQL fragment).
    */
  def registerAllCatalog(spark: org.apache.spark.sql.SparkSession,
      tables: Map[String, DataFrame], database: String, baseDir: String,
      analyze: Boolean = false): Unit = {
    require(database.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"database must be a plain identifier: $database")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    LoadOrder.foreach { name =>
      ReferenceDdl.coerceDates(name, underscored(tables(name)))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$baseDir/$name")
        .saveAsTable(s"`$database`.`$name`") // `condition` is a keyword
      if (analyze)
        spark.sql(s"ANALYZE TABLE `$database`.`$name` COMPUTE STATISTICS")
    }
  }

  /** FK-ordered catalog read-back, mirroring [[readAllJdbc]]: lazy
    * frames by catalog name, parents first.
    */
  def readAllCatalog(spark: org.apache.spark.sql.SparkSession,
      database: String): Seq[(String, DataFrame)] =
    LoadOrder.map(n => n -> spark.table(s"`$database`.`$n`"))

  /** The exact statements [[applyPrimaryKeys]] issues, dialect-keyed on
    * the url — separated so the PostgreSQL statement stream is
    * golden-pinnable without a live server (SinksSpec) while Derby
    * executes the same generator end-to-end.
    */
  def primaryKeyStatements(url: String,
      keys: Map[String, Seq[String]] = ReferenceDdl.primaryKeys): Seq[String] =
    keys.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      // Spark's JDBC writer quotes COLUMN identifiers (they come back
      // case-exact, e.g. "patient_id") but passes the TABLE name through
      // unquoted — mirror that or the ALTER misses the columns
      val q = cols.map(c => "\"" + c + "\"")
      val notNull =
        if (url.startsWith("jdbc:derby")) "ALTER COLUMN %s NOT NULL"
        else "ALTER COLUMN %s SET NOT NULL" // SQL standard: Postgres et al.
      q.map(c => s"ALTER TABLE $table ${notNull.format(c)}") :+
        s"ALTER TABLE $table ADD PRIMARY KEY (${q.mkString(", ")})"
    }

  /** The exact `CREATE TABLE` DDL Spark's JDBC writer would issue for
    * `table` on a PostgreSQL connection: the REAL dialect resolution
    * (`JdbcDialects.get` on a postgres url) + the REAL writer schema
    * renderer (`JdbcUtils.schemaString`, the same call `createTable`
    * makes) over the same date-coerced, underscored frame
    * [[writeAllJdbcReference]] loads. No live server exists in this
    * environment, so this is the executable evidence for the
    * Postgres-dialect path: SinksSpec golden-pins the emitted DDL
    * column-for-column against the reference's CREATE TABLEs
    * (`json_pipeline.py:743-850`), with [[ReferenceDdl]]'s documented
    * TEXT→VARCHAR mapping as the one deviation.
    */
  def postgresCreateTableDdl(table: String, df: DataFrame,
      url: String = "jdbc:postgresql://localhost:5432/graft"): String = {
    val dialect = JdbcDialects.get(url)
    val frame = ReferenceDdl.coerceDates(table, underscored(df))
    val cols = org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
      .schemaString(dialect, frame.schema, caseSensitive = false,
        ReferenceDdl.columnTypes.get(table))
    s"CREATE TABLE $table ($cols)"
  }

  /** Embedded-Derby compatibility: Spark's Derby dialect maps `StringType`
    * → CLOB, which is (a) non-comparable in predicates and (b) the bind
    * type for string NULLs — and Derby refuses `setNull(CLOB)` against the
    * VARCHAR columns that `createTableColumnTypes` DDL creates. Register
    * once before loading into Derby; no-op for other engines
    * (`canHandle` keys on the url).
    *
    * BEHAVIOR CHANGE (r14): `register()` no longer sets
    * `derby.stream.error.file` — earlier builds routed `derby.log` out of
    * the CWD as a side effect of dialect registration. Routing an engine
    * boot artifact is the embedding harness's decision, not a library
    * side effect: embedders that relied on it must now set
    * `-Dderby.stream.error.file=...` (or `derby.system.home`) themselves
    * before the first Derby connection, or Derby writes `derby.log` at
    * the working directory.
    */
  object DerbyCompat {
    private val dialect: JdbcDialect = new JdbcDialect {
      override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR(255)", java.sql.Types.VARCHAR))
        case _ => None
      }
    }
    @volatile private var registered = false
    // NOTE deliberately no JVM-global side effects here beyond the
    // dialect registration itself: routing derby.log (a CWD-relative
    // engine boot artifact) is the EMBEDDING harness's decision —
    // the gate/test harnesses set derby.stream.error.file themselves
    def register(): Unit = synchronized {
      if (!registered) { JdbcDialects.registerDialect(dialect); registered = true }
    }
  }

  /** Parquet sink — the engine's preferred lake format (columnar, predicate
    * pushdown, partition pruning). Not in the reference; first-class here.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Small-file compaction — the standing maintenance job of any
    * streaming/incremental lake: a table accumulated as thousands of tiny
    * part files (one per micro-batch/task) re-written as
    * ⌈bytes/targetFileBytes⌉ right-sized files. Listing overhead and scan
    * task count drop proportionally; optional `sortWithinPartitions`
    * clusters rows so parquet min/max zone maps actually prune. Size
    * comes from the relation's statistics (the file-source stat IS the
    * on-disk byte sum), so nothing is scanned before the single
    * repartition-and-write pass.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val df = spark.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes // BigInt
    val nFiles = ((bytes + targetFileBytes - 1) / targetFileBytes).max(1).toInt
    val rep = df.repartition(nFiles)
    val laid = if (sortCols.nonEmpty)
      rep.sortWithinPartitions(sortCols.map(c => org.apache.spark.sql.functions.col(c)): _*)
    else rep
    laid.write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** ORC sink — same columnar-lake role as parquet for warehouses
    * standardized on ORC; identical pushdown/pruning behavior through the
    * same FileScan machinery.
    */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** ORC source — schema'd read-back of [[writeOrc]] output. An explicit
    * schema (same contract as [[readCsv]]/[[readJsonl]]) skips footer
    * inference over thousands of part files and pins column types, so a
    * round-trip compares values rather than whatever types inference
    * guessed.
    */
  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Schema-evolution read: union the schemas of every parquet snapshot
    * under `paths` (`mergeSchema`) — files written before a column was
    * added surface it as null, the standard contract for a corpus that
    * gains columns across ingestion batches. Cost model at 100 TB:
    * merging reads every file FOOTER (parallelized as a Spark job), not
    * the data; for a stable production schema pass an explicit schema
    * instead and skip the footer sweep — this entry point is for the
    * exploratory/backfill path where the union is the point.
    */
  def readParquetMerged(spark: org.apache.spark.sql.SparkSession,
      paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Provenance read: the parquet scan plus `_src_file` (basename of the
    * physical file each row came from) and `_content_md5` (separator/null-sentinel-framed row payload
    * hash over `hashCols`) — the audit columns an incremental lake
    * pipeline carries so any row can be traced to its ingest file and
    * byte-identical re-ingests are detectable. `input_file_name()` is
    * populated by the scan itself: zero extra I/O, and the projection
    * stays codegen'd.
    */
  def readParquetWithProvenance(spark: org.apache.spark.sql.SparkSession,
      path: String, hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "readParquetWithProvenance needs hash columns")
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .withColumn("_src_file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .withColumn("_content_md5",
        // \u0001-separated with a \u0000 null sentinel: a bare concat
        // would hash ("ab","c") and ("a","bc") -- or a null and an empty
        // string -- identically, and an audit hash that cannot tell rows
        // apart is worse than none
        md5(concat_ws("\u0001",
          hashCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)))
  }

  /** Bucketed (hash-clustered) parquet table: pay the shuffle ONCE at
    * write time so every later equi-join or aggregation on the bucket
    * keys is co-located and shuffle-free — the 100 TB answer to
    * fact-to-fact joins (orders ⋈ lineitem) that would otherwise shuffle
    * both sides on every query. Both join sides must use the same bucket
    * count and keys; `sortCols` additionally sorts within buckets so
    * sort-merge joins can skip their sort. Registered as an external
    * table at `path` (bucketing metadata lives in the catalog — plain
    * `spark.read.parquet` sees only files and loses the layout).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      numBuckets: Int, bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
