package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling / validation aggregates (SURVEY.md §2.8 G1–G5;
  * the G6 cleaning accounting is [[graft.fhir.Pipeline.TableAccounting]]).
  *
  * The reference computes each metric with a full `iterrows()` pass per
  * check (`data_quality_checker.py:34-102`); here every metric is a
  * single-pass, map-side-combinable aggregate, so a whole per-table check
  * battery is one scan + one tiny (rows = #checks) result. Nothing here
  * collects to the driver.
  */
object QualityChecker {

  /** G1 — missing-value profile: one row per column with the null count and
    * null percentage, sorted worst-first (`data_quality_checker.py:10-31`).
    *
    * One aggregate pass over the table (2·ncols + 1 partial aggregates,
    * all map-side combined), then an unpivot of the single result row —
    * the unpivot input is one row, so the `stack` is free.
    */
  def missingProfile(df: DataFrame): DataFrame = {
    val cols = df.columns
    val aggs = count(lit(1)).as("__total") +:
      cols.map(c => sum(col(s"`$c`").isNull.cast("long")).as(s"__nulls_$c"))
    val one = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val stackArgs = cols
      .map(c => s"'$c', `__nulls_$c`")
      .mkString(", ")
    one
      .select(
        expr(s"stack(${cols.length}, $stackArgs) as (column_name, null_count)"),
        col("__total"))
      .select(
        col("column_name"),
        col("null_count"),
        round(col("null_count") * 100.0 / col("__total"), 2).as("pct_missing"))
      .orderBy(desc("pct_missing"), asc("column_name"))
  }

  /** Exact per-column distinct-cardinality profile: one `agg` with a
    * distinct count per column (Catalyst rewrites multi-distinct via
    * Expand — cost is ncols × a shuffle of distinct keys), unpivoted to
    * `[column_name, n_distinct, n_nonnull]` rows. Exact distinct is the
    * oracle-checkable form; at 100 TB interactive profiling use
    * [[sketchCardinality]] instead — HLL sketches combine map-side and
    * never shuffle raw keys.
    */
  def cardinalityProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "no columns given")
    val aggs = columns.flatMap(c => Seq(
      countDistinct(col(s"`$c`")).as(s"__nd_$c"),
      count(col(s"`$c`")).as(s"__nn_$c")))
    val one = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val stackArgs = columns.map(c => s"'$c', `__nd_$c`, `__nn_$c`").mkString(", ")
    one.select(expr(
        s"stack(${columns.length}, $stackArgs) as (column_name, n_distinct, n_nonnull)"))
      .orderBy("column_name")
  }

  /** Approximate per-column cardinality via DataSketches HLL
    * (`hll_sketch_agg`): partials merge map-side, the shuffle carries one
    * ~2^lgK-byte sketch per partition per column instead of the distinct
    * key set — the 100 TB profiling path. Estimates carry ~1.6% RSE at
    * the default lgK=12 (2.5σ bound spec-asserted).
    */
  def sketchCardinality(df: DataFrame, columns: Seq[String], lgK: Int = 12): DataFrame = {
    require(columns.nonEmpty, "no columns given")
    val aggs = columns.map(c =>
      hll_sketch_estimate(hll_sketch_agg(col(s"`$c`"), lit(lgK))).as(s"__est_$c"))
    val one = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val stackArgs = columns.map(c => s"'$c', `__est_$c`").mkString(", ")
    one.select(expr(
        s"stack(${columns.length}, $stackArgs) as (column_name, n_distinct_est)"))
      .orderBy("column_name")
  }

  /** G2 — count of non-null values failing a predicate, as a one-row
    * summary `[table_name, error_type, error_count, error_pct]`
    * (`data_quality_checker.py:34-45`): a one-check [[tableBattery]].
    */
  def invalidCount(df: DataFrame, c: Column, valid: Column, errorType: String, tableName: String): DataFrame =
    tableBattery(df, tableName, Seq(invalidCheck(c, valid, errorType)))

  /** G3 — logical-order violations: both endpoints set and start > end
    * (`data_quality_checker.py:83-94`), a one-check [[tableBattery]].
    */
  def logicalOrderViolations(df: DataFrame, start: Column, end: Column, errorType: String, tableName: String): DataFrame =
    tableBattery(df, tableName, Seq(orderCheck(start, end, errorType)))

  /** G4 — duplicate-membership count: the number of rows belonging to any
    * duplicate group over `keys` (pandas `duplicated(keep=False).sum()`,
    * `data_quality_checker.py:97-102` — a group of 2 counts as 2, so this is
    * NOT `count - countDistinct`), a one-check [[tableBattery]].
    *
    * One shuffle on `keys` for the group sizes, then a global sum. At scale
    * the first aggregate is map-side combined on the key columns only.
    */
  def duplicateMembership(df: DataFrame, keys: Seq[String], errorType: String, tableName: String): DataFrame =
    tableBattery(df, tableName, Seq(DuplicateRows(errorType, keys)))

  /** G5 — a check battery is just a union of one-row summaries; keep result
    * ordering deterministic for hash comparison.
    */
  def checkSuite(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_.unionByName(_)).orderBy("table_name", "error_type")

  // --- single-pass per-table battery (G5 at scale) -------------------------

  /** One check in a [[tableBattery]]. */
  sealed trait BatteryCheck { def errorType: String }
  /** Count of rows where `isError` holds (nulls never count as errors). */
  final case class PredicateError(errorType: String, isError: Column) extends BatteryCheck
  /** Count of rows belonging to any duplicate group over `keys`
    * (pandas `duplicated(keep=False).sum()` semantics).
    */
  final case class DuplicateRows(errorType: String, keys: Seq[String]) extends BatteryCheck

  /** Non-null values failing `valid` — battery form of [[invalidCount]]. */
  def invalidCheck(c: Column, valid: Column, errorType: String): PredicateError =
    PredicateError(errorType, c.isNotNull && !valid)

  /** Both endpoints set and start > end — battery form of
    * [[logicalOrderViolations]].
    */
  def orderCheck(start: Column, end: Column, errorType: String): PredicateError =
    PredicateError(errorType, start.isNotNull && end.isNotNull && start > end)

  /** All of a table's checks in ONE scan of the table.
    *
    * Building a battery as a union of one-check batteries re-scans the
    * table once per check (the reference's 20-check battery costs up to 7
    * scans of one table). Here every predicate check
    * becomes one `sum` in a single aggregate; when the battery contains a
    * [[DuplicateRows]] check, the predicate sums ride its group-size
    * aggregation (groupBy keys → partial sums per group → re-sum), so the
    * scan count stays one and both shuffles carry only counter tuples —
    * map-side combined, group-count-sized. A second DuplicateRows check
    * with different keys genuinely needs its own group pass (extra scan).
    *
    * Output: one row per check, in battery order:
    * `table_name, error_type, error_count, error_pct`.
    */
  def tableBattery(df: DataFrame, tableName: String, checks: Seq[BatteryCheck]): DataFrame =
    batteryRows(df, tableName, checks).orderBy("__ord").drop("__ord")

  /** [[tableBattery]] with the 0-based battery ordinal retained as `__ord`
    * (unsorted) — for callers stitching several tables into one globally
    * ordered report.
    */
  private[graft] def batteryRows(df: DataFrame, tableName: String, checks: Seq[BatteryCheck]): DataFrame = {
    require(checks.nonEmpty, "tableBattery needs at least one check")
    val firstDupIdx = checks.indexWhere(_.isInstanceOf[DuplicateRows])
    val predAggs = checks.zipWithIndex.collect {
      case (p: PredicateError, i) => sum(p.isError.cast("long")).as(s"__c$i")
    }
    val one = if (firstDupIdx < 0) {
      df.agg(count(lit(1)).as("__total"), predAggs: _*)
    } else {
      val keys = checks(firstDupIdx).asInstanceOf[DuplicateRows].keys
      val grouped = df
        .groupBy(keys.map(k => col(s"`$k`")): _*)
        .agg(count(lit(1)).as("__n"), predAggs: _*)
      val resums = checks.zipWithIndex.collect {
        case (_: PredicateError, i) => sum(col(s"__c$i")).as(s"__c$i")
      } :+ sum(when(col("__n") > 1, col("__n")).otherwise(lit(0L))).as(s"__c$firstDupIdx")
      grouped.agg(sum(col("__n")).as("__total"), resums: _*)
    }
    val fusedIdx = checks.indices
      .filter(i => i == firstDupIdx || checks(i).isInstanceOf[PredicateError])
    val entries = fusedIdx.map { i =>
      struct(
        lit(i).as("ord"), lit(checks(i).errorType).as("error_type"),
        coalesce(col(s"__c$i"), lit(0L)).as("error_count"))
    }
    val fused = one
      .select(explode(array(entries: _*)).as("r"), col("__total"))
      .select(
        col("r.ord").as("__ord"),
        lit(tableName).as("table_name"),
        col("r.error_type").as("error_type"),
        col("r.error_count").as("error_count"),
        round(col("r.error_count") * 100.0 / col("__total"), 2).as("error_pct"))
    val extras = checks.zipWithIndex.collect {
      case (d: DuplicateRows, i) if i != firstDupIdx =>
        batteryRows(df, tableName, Seq(d)).withColumn("__ord", lit(i))
    }
    (fused +: extras).reduce(_.unionByName(_))
  }
}
