package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column ↔ Expression plumbing.
  *
  * Spark 4 made `Column` backend-agnostic (ColumnNode); wrapping a custom
  * Catalyst `Expression` requires `classic.ExpressionUtils`, which is
  * `private[sql]` — hence this shim package inside `org.apache.spark.sql`,
  * the standard technique for Catalyst-extension libraries. Everything
  * referenced is Apache Spark public source.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register an expression builder as a SQL-callable function on a LIVE
    * session (`SparkSessionExtensions` only applies at session build
    * time; this covers sessions handed to us already constructed).
    */
  def register(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.expressions", name),
        builder)
}

/** Bridge to `private[sql]` frame construction over an RDD of Catalyst
  * rows, without `Row` boxing on either side.
  */
object FrameShim {
  /** A frame over `rdd`, whose rows already match `schema`. The planner
    * sizes it from `rows` as it sizes any relation, not as an unknown RDD
    * (which it would never broadcast).
    */
  def fromRdd(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      rows: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(attrs) * rows,
      rowCount = Some(rows))
    classic.Dataset.ofRows(session, LogicalRDD(attrs, rdd)(session, Some(stats)))
  }
}

/** Bridge to the `private[spark]` listener bus. */
object ListenerShim {
  /** Wait up to `timeoutMs` until every posted listener event has been
    * delivered to every listener queue; on timeout, return anyway.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** Bridge to the `private[spark]` tag cancellation that reports back. */
object SchedulerShim {
  /** Cancel every active job tagged `tag` and wait up to `timeoutMs`
    * until the DAG scheduler has handled the cancellation: every job
    * submitted before this call has then started and been cancelled or
    * has ended, whatever path submitted it (`cancelJobGroupAndFutureJobs`
    * does not stop the map-stage jobs that AQE submits). On timeout,
    * return anyway.
    */
  def cancelTagAndWait(sc: SparkContext, tag: String, reason: String, timeoutMs: Long): Unit =
    try scala.concurrent.Await.ready(sc.cancelJobsWithTagWithFuture(tag, reason),
      scala.concurrent.duration.Duration(timeoutMs, "ms"))
    catch { case _: java.util.concurrent.TimeoutException => () }
}
