package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftshim.ListenerShim
import org.apache.spark.sql.streaming.OutputMode

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` as one gate window of a fresh profiler: its profile, and
    * the job group of every job a plain listener saw start in it.
    */
  private def gates(bodies: (() => Any)*): Seq[(Profiler.Gate, Seq[String])] = {
    val p = new Profiler(spark)
    try bodies.map { body =>
      val groups = new ConcurrentLinkedQueue[String]()
      val plain = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      ListenerShim.drain(spark.sparkContext, 10000)
      spark.sparkContext.addSparkListener(plain)
      val t0 = System.currentTimeMillis()
      body()
      val g = p.take(t0, System.currentTimeMillis())
      spark.sparkContext.removeSparkListener(plain)
      (g, groups.toArray.map(_.toString).toSeq)
    } finally p.close()
  }

  test("two gates back to back: disjoint attributions, job counts equal a plain listener's") {
    val Seq((a, jobsA), (b, jobsB)) = gates(
      () => spark.range(1000).groupBy($"id" % 7).count().collect(),
      () => { spark.range(50).collect(); Seq(1L, 2L).toDF("x").groupBy().sum().collect() })
    assert(a.jobs.nonEmpty && a.jobs.size == jobsA.size && b.jobs.nonEmpty &&
      b.jobs.size == jobsB.size, s"${a.jobs} vs $jobsA, ${b.jobs} vs $jobsB")
    assert(a.stages.nonEmpty && b.stages.nonEmpty && a.t1 <= b.t0)
    assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty)
    assert(a.planningMs.contains("planning"), a.planningMs)
    assert(a.driverGapMs >= 0 && a.driverGapMs <= a.t1 - a.t0)
  }

  test("a job a gate submits from its own thread pool under its own job group is the gate's") {
    val pool = Executors.newFixedThreadPool(1)
    val Seq((g, groups)) = try gates(() => pool.submit(new Callable[Long] {
      def call(): Long = {
        spark.sparkContext.setJobGroup("profiler-spec-own", "own group")
        try spark.range(100).count() finally spark.sparkContext.clearJobGroup()
      }
    }).get(60, TimeUnit.SECONDS)) finally pool.shutdown()
    assert(groups.contains("profiler-spec-own") && g.jobs.size == groups.size,
      s"${g.jobs} vs $groups")
  }

  test("a streaming gate records its micro-batches, and its JSON entry carries them") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val Seq((g, _)) = gates(() => graft.streaming.Streams.runToMemory(
      in.toDF().groupBy("value").count(),
      "profiler_spec_" + java.lang.Long.toHexString(System.nanoTime()), OutputMode.Complete()))
    assert(g.batches.nonEmpty && g.batches.forall(_.durationMs.contains("triggerExecution")))
    assert(g.batches.exists(_.state("rows") > 0), g.batches)
    val js = new ObjectMapper().readTree(Profiler.gateJson(1.0, g, Seq(1.0, 2.0, 4.0)))
    assert(js.get("batches").asInt == g.batches.size && js.get("median_s").asDouble == 2.0)
    assert(js.get("batch_ms").has("addBatch") && js.get("batch_state").has("rows"))
    assert(js.get("slow_stages").size > 0 && js.get("job_descriptions").size > 0)
  }
}
