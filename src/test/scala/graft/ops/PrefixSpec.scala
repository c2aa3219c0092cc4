package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Prefix.exclusiveSums]] — the distributed two-phase prefix sum the
  * rank-statistics family rides since r20 (replacing single-partition
  * `Window.orderBy` prefixes). The reference fold below IS the old
  * single-window form, so every property here pins "restructure changed
  * the plan, not one emitted value".
  */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  private def reference(
      rows: Seq[(Long, Long, Long)], desc: Boolean): Map[Long, (Long, Long)] = {
    val sorted = if (desc) rows.sortBy(-_._1) else rows.sortBy(_._1)
    var c1 = 0L; var c2 = 0L
    sorted.map { case (k, v1, v2) =>
      val out = k -> (c1, c2); c1 += v1; c2 += v2; out
    }.toMap
  }

  private val rows: Seq[(Long, Long, Long)] =
    (1L to 997L).map(i => (i * 7 % 2048, i % 13, (i * i) % 101))
      .groupBy(_._1).map { case (k, g) =>
        (k, g.map(_._2).sum, g.map(_._3).sum)
      }.toSeq

  test("ascending exclusive sums match the single-window fold") {
    val df = rows.toDF("k", "v1", "v2")
    val got = Prefix.exclusiveSums(df, Seq(col("k")),
        Seq("c1" -> col("v1"), "c2" -> col("v2")))
      .select("k", "c1", "c2").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === reference(rows, desc = false))
    graft.CachedFrames.releaseAll()
  }

  test("descending exclusive sums match the single-window fold") {
    val df = rows.toDF("k", "v1", "v2")
    val got = Prefix.exclusiveSums(df, Seq(col("k").desc),
        Seq("c1" -> col("v1"), "c2" -> col("v2")))
      .select("k", "c1", "c2").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === reference(rows, desc = true))
    graft.CachedFrames.releaseAll()
  }

  test("results are independent of the input partitioning") {
    val base = rows.toDF("k", "v1", "v2")
    val expected = Prefix.exclusiveSums(base.repartition(1), Seq(col("k")),
        Seq("c" -> col("v1"))).select("k", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    Seq(3, 7).foreach { n =>
      val got = Prefix.exclusiveSums(base.repartition(n), Seq(col("k")),
          Seq("c" -> col("v1"))).select("k", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"diverged at input partitions=$n")
      graft.CachedFrames.releaseAll()
    }
  }

  test("no unpartitioned window over the data relation (plan audit)") {
    val df = rows.toDF("k", "v1", "v2")
    val plan = Prefix.exclusiveSums(df, Seq(col("k")), Seq("c" -> col("v1")))
      .queryExecution.optimizedPlan
    // every Window over the DATA relation must carry a partitionSpec; the
    // only unpartitioned window allowed is the per-partition-totals one,
    // whose input is an Aggregate over spark_partition_id
    val offending = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty &&
            !w.child.exists {
              case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
                a.groupingExpressions.exists(_.references.exists(
                  _.name == "__pid"))
              case _ => false
            } => w
    }
    assert(offending.isEmpty,
      s"unpartitioned data-relation window in:\n$plan")
    graft.CachedFrames.releaseAll()
  }

  /** The old single-window form, as Spark plans it: the reference for
    * null handling and null-key order. */
  private def windowFold(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column, v: String): Map[Option[Long], Long] =
    df.withColumn("c", coalesce(sum(col(v)).over(Window.orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("k", "c").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1)).toMap

  private def prefixOf(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column, v: String): Map[Option[Long], Long] =
    Prefix.exclusiveSums(df, Seq(order), Seq("c" -> col(v)))
      .select("k", "c").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1)).toMap

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffle partitions 1 and 7, and AQE off, give the fold's sums") {
    val df = rows.toDF("k", "v1", "v2")
    val expected = reference(rows, desc = false).map { case (k, (c, _)) => Option(k) -> c }
    Seq(
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.adaptive.enabled" -> "false")).foreach { conf =>
      withConf(conf: _*) {
        assert(prefixOf(df, col("k"), "v1") === expected, s"diverged under $conf")
      }
    }
  }

  test("a null value adds 0; null order keys sort as in the single-window fold") {
    val df = (Seq[(Option[Long], Option[Long])](None -> Some(5L), Some(1L) -> None) ++
      (2L to 300L).map(i => Some(i) -> (if (i % 17 == 0) None else Some(i % 11))))
      .toDF("k", "v")
    for (order <- Seq(col("k"), col("k").desc, col("k").asc_nulls_last,
        col("k").desc_nulls_first)) {
      assert(prefixOf(df, order, "v") === windowFold(df, order, "v"), s"order $order")
    }
    val out = Prefix.exclusiveSums(df, Seq(col("k")), Seq("c" -> col("v")))
    assert(!out.schema("c").nullable && out.schema("c").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("an int64 overflow raises ArithmeticException") {
    val df = Seq((1L, Long.MaxValue), (2L, 1L), (3L, 0L)).toDF("k", "v")
    Seq(1, 3).foreach { parts =>
      val e = intercept[Exception](
        Prefix.exclusiveSums(df, Seq(col("k")), Seq("c" -> col("v")), parts)
          .collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
  }

  test("the call registers no CachedFrames entry") {
    graft.CachedFrames.releaseAll()
    Prefix.exclusiveSums(rows.toDF("k", "v1", "v2"), Seq(col("k")),
      Seq("c" -> col("v1"))).collect()
    assert(graft.CachedFrames.registeredCount === 0)
  }

  test("one call plus collect on a groupBy input runs at most 5 Spark jobs") {
    val perK = (1L to 2000L).map(i => (i % 257, i)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("t"))
    val profiler = new graft.Profiler(spark)
    val jobs = try {
      val t0 = System.currentTimeMillis()
      Prefix.exclusiveSums(perK, Seq(col("k")), Seq("c" -> col("t"))).collect()
      profiler.take(t0, System.currentTimeMillis()).jobs
    } finally profiler.close()
    info(s"${jobs.size} jobs: ${jobs.mkString(" | ")}")
    assert(jobs.size <= 5, s"${jobs.size} jobs: $jobs")
    assert(jobs.contains("Prefix.exclusiveSums: partition totals"), jobs.toString)
  }

  test("the caller's job description is restored after the call") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      Prefix.exclusiveSums(rows.toDF("k", "v1", "v2"), Seq(col("k")),
        Seq("c" -> col("v1")))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(Long, Long, Long)].toDF("k", "v1", "v2")
    assert(Prefix.exclusiveSums(df, Seq(col("k")),
      Seq("c" -> col("v1"))).count() === 0L)
    graft.CachedFrames.releaseAll()
  }
}
