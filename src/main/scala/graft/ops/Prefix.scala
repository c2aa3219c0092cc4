package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FrameShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed prefix sums over a TOTAL order: the one primitive behind
  * the rank statistics ([[ModelEval]], [[Profiling]]), `ksDrift`'s ECDFs
  * and [[Curation]]'s sequence packing, ranks and shuffles. An
  * unpartitioned cumulative window is one task holding the whole relation
  * (KEY-sized for per-entity totals, range-sized for open-ended values);
  * this is one range shuffle read by two jobs:
  *
  *  1. the value columns are projected as non-null `long` (a null adds
  *     0), the relation is range-partitioned on the order and sorted
  *     within partitions, and its RDD is taken once;
  *  2. a job sums each partition and the driver scans those totals into
  *     per-partition offsets. This job runs EAGERLY at call time, as
  *     Lloyd rounds do; the driver array holds at most #partitions × k
  *     longs for k value columns;
  *  3. the returned frame adds each partition's offset to a running sum
  *     over the same RDD, when the caller acts on it.
  *
  * Both passes read the same shuffle files, so the range bounds are
  * sampled once and a row's partition cannot differ between them;
  * nothing is persisted and no window runs. Sums use `Math.addExact`, so
  * an int64 overflow raises `ArithmeticException` as the ANSI `sum` did.
  * Every emitted sum is the exact int64 fold of the single-window form,
  * whatever the partition count, AQE setting or input partitioning.
  */
private[graft] object Prefix {

  /** `df` plus one non-null `long` column per `(outName, value)` entry:
    * the EXCLUSIVE prefix sum of `value` over all rows strictly preceding
    * under `orderCols` (0 when none precede). `orderCols` must be a total
    * order — unique per row, e.g. the key of a groupBy that produced
    * `df`; pass `col(...).desc` entries for descending prefixes.
    * `numPartitions` fixes the range partition count (0 = let the session
    * choose, coalescing small relations).
    */
  def exclusiveSums(
      df: DataFrame, orderCols: Seq[Column], values: Seq[(String, Column)],
      numPartitions: Int = 0): DataFrame =
    exclusiveSumsAndTotals(df, orderCols, values, numPartitions)._1

  /** [[exclusiveSums]] plus the grand total of each value column, which
    * the driver's scan over the partition totals yields for free.
    */
  def exclusiveSumsAndTotals(
      df: DataFrame, orderCols: Seq[Column], values: Seq[(String, Column)],
      numPartitions: Int = 0): (DataFrame, Seq[Long]) = {
    require(values.nonEmpty, "exclusiveSums: no value columns")
    require(numPartitions >= 0, s"exclusiveSums: numPartitions=$numPartitions")
    val n = df.columns.length
    val k = values.size
    val projected = df.select(col("*") +: values.zipWithIndex.map {
      case ((_, v), i) => coalesce(v.cast("long"), lit(0L)).as(s"__pv$i")
    }: _*)
    val ranged =
      (if (numPartitions > 0) projected.repartitionByRange(numPartitions, orderCols: _*)
       else projected.repartitionByRange(orderCols: _*))
        .sortWithinPartitions(orderCols: _*)
    val sc = df.sparkSession.sparkContext
    val (rows, totals) = graft.FanOut.described(sc, "Prefix.exclusiveSums: partition totals") {
      val rows = ranged.queryExecution.toRdd
      // per partition: k sums, then the row count
      rows -> rows.mapPartitions { it =>
        val t = new Array[Long](k + 1)
        it.foreach { r =>
          var j = 0
          while (j < k) { t(j) = Math.addExact(t(j), r.getLong(n + j)); j += 1 }
          t(k) += 1
        }
        Iterator.single(t)
      }.collect()
    }
    // offsets(p) = sums over partitions before p; offsets.last = totals
    val offsets = totals.scanLeft(new Array[Long](k)) { (acc, t) =>
      Array.tabulate(k)(j => Math.addExact(acc(j), t(j)))
    }
    // each value slot is overwritten in place by its exclusive sum: every
    // pass decodes its own rows from the shuffle, so no other reader sees it
    val summed = rows.mapPartitionsWithIndex { (p, it) =>
      val run = offsets(p).clone()
      it.map { r =>
        var j = 0
        while (j < k) {
          val v = r.getLong(n + j)
          r.setLong(n + j, run(j))
          run(j) = Math.addExact(run(j), v)
          j += 1
        }
        r
      }
    }.setName("Prefix.exclusiveSums: offsets")
    val schema = StructType(df.schema.fields ++ values.map { case (out, _) =>
      StructField(out, LongType, nullable = false)
    })
    (FrameShim.fromRdd(df.sparkSession, summed, schema, totals.map(_(k)).sum),
      offsets.last.toSeq)
  }
}
