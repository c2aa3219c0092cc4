package graft.clean

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level validation predicates (SURVEY.md §2.4 X5/X6).
  *
  * Semantics pinned by the reference's validators
  * (`data_quality_checker.py:48-79`): anchored regex matches over strings,
  * inclusive numeric ranges over doubles. All are pure `Column => Column`
  * expressions — codegen'd by Catalyst, no UDFs, null-in → null-out unless
  * stated otherwise.
  */
object Validators {

  /** ISO-8601 datetime with mandatory offset, e.g. `2012-03-04T05:06:07+00:00`
    * (`data_quality_checker.py:49`). Kept as a *string* predicate — the
    * reference never parses dates, it pattern-matches them.
    */
  val DatetimePattern = """^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}[-+]\d{2}:\d{2}$"""

  /** ISO date `YYYY-MM-DD` (`data_quality_checker.py:53`). */
  val DatePattern = """^\d{4}-\d{2}-\d{2}$"""

  /** The four accepted US phone shapes, each with an optional ` x<digits>`
    * extension (`data_quality_checker.py:64-71`), collapsed into one
    * alternation so it compiles to a single regex evaluation.
    */
  val PhonePattern =
    """^(\(\d{3}\)\s?\d{3}-\d{4}|\d{3}-\d{3}-\d{4}|\d{3}\.\d{3}\.\d{4}|1-\d{3}-\d{3}-\d{4})( x\d+)?$"""

  def isValidDatetime(c: Column): Column = c.rlike(DatetimePattern)
  def isValidDate(c: Column): Column = c.rlike(DatePattern)

  /** Accepts either a full datetime or a bare date — the union the cleaner
    * applies to every date column (`data_quality_checker.py:177-180`).
    */
  def isValidDateOrDatetime(c: Column): Column =
    isValidDatetime(c) || isValidDate(c)

  def isValidPhone(c: Column): Column = c.rlike(PhonePattern)

  /** Inclusive ranges (`data_quality_checker.py:74-79`). */
  def isValidLatitude(c: Column): Column = c.between(-90d, 90d)
  def isValidLongitude(c: Column): Column = c.between(-180d, 180d)
}
