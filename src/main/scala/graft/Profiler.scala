package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.ListenerShim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-gate layer profile behind the `profile` line of
  * `bench_times.json`: Spark jobs and stages with their task metrics,
  * `QueryPlanningTracker` phases, cached bytes and streaming micro-batch
  * progress. Work is attributed to a gate by its wall-clock window
  * [t0, t1] (epoch ms), not by job group: [[Bench]] runs one gate at a
  * time, so the window holds exactly its gate's work, including jobs the
  * gate submits from its own threads under its own job group.
  * [[take]] drains the listener bus (bounded), returns the window's
  * [[Profiler.Gate]] and forgets everything recorded up to t1, so untimed
  * work between windows and a long session leave nothing behind.
  */
final class Profiler(spark: SparkSession) extends AutoCloseable {
  import Profiler._
  private val jobs = ArrayBuffer.empty[(Long, String)]
  private val stages = ArrayBuffer.empty[Stage]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]
  private val batches = ArrayBuffer.empty[Batch]
  private val loadBefore = loadAverage
  private def record(body: => Unit): Unit = synchronized(body)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).fold("")(_.getProperty("spark.job.description", ""))
      // first line only: a micro-batch's description adds its query and run ids
      record(jobs += e.time -> desc.takeWhile(_ != '\n'))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      val end = si.completionTime.getOrElse(System.currentTimeMillis())
      record(stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(90),
        si.submissionTime.getOrElse(end), end, StageKeys.zip(Seq(si.numTasks.toLong,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))))
    }
  }
  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = record(qe.tracker.phases.foreach {
      case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs))
    })
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }
  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val (p, st) = (e.progress, Option(e.progress.stateOperators).getOrElse(Array.empty))
      record(batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Map("rows" -> st.map(_.numRowsTotal).sum, "mem_bytes" -> st.map(_.memoryUsedBytes).sum,
          "commit_ms" -> st.map(_.commitTimeMs).sum,
          "all_updates_ms" -> st.map(_.allUpdatesTimeMs).sum)))
    }
  }
  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  // RDD ids grow with creation: storage of an id at or below the highest
  // persisted at the previous take is an earlier window's late release
  // (a `localCheckpoint` waits for the ContextCleaner), not this window's
  private var fence = -1

  /** The profile of the window [t0, t1]. Cached bytes are read now, so
    * take it before the next gate releases its cached frames.
    */
  def take(t0: Long, t1: Long): Gate = {
    val sc = spark.sparkContext
    ListenerShim.drain(sc, 10000)
    val cached = sc.getRDDStorageInfo.filter(_.id > fence).map(r => r.memSize + r.diskSize).sum
    fence = (sc.getPersistentRDDs.keys ++ Seq(fence)).max
    synchronized {
      def in(t: Long) = t >= t0 && t <= t1
      val g = Gate(t0, t1, jobs.filter(j => in(j._1)).map(_._2).toSeq,
        stages.filter(s => in(s.start)).toSeq,
        phases.filter(p => in(p._2)).groupMapReduce(_._1)(p => p._3 - p._2)(_ + _),
        cached, CachedFrames.registeredCount, batches.filter(b => in(b.at)).toSeq)
      jobs.filterInPlace(_._1 > t1)
      stages.filterInPlace(_.start > t1)
      phases.filterInPlace(_._2 > t1)
      batches.filterInPlace(_.at > t1)
      g
    }
  }

  /** The environment this profiler ran in. The conf digest covers the
    * session's `spark.sql.*` values (less the checkout-dependent warehouse
    * dir), the master and the extra optimizer rules.
    */
  def envJson: String = {
    val confs = spark.conf.getAll.toSeq.sorted.collect {
      case (k, v) if k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir" => s"$k=$v"
    } ++ Seq(s"master=${spark.sparkContext.master}") ++
      spark.experimental.extraOptimizations.map(r => s"rule=${r.ruleName}")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(confs.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    obj(Seq("cpus" -> spark.sparkContext.defaultParallelism, "load_before" -> loadBefore,
      "load_after" -> loadAverage, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> Verify.jstr(spark.version), "conf_digest" -> Verify.jstr(digest)))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

object Profiler {
  private val StageKeys = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes")

  /** One stage attempt: its [[StageKeys]] totals over its tasks. */
  final case class Stage(id: Int, name: String, start: Long, end: Long,
      metrics: Seq[(String, Long)])

  /** One micro-batch: its `durationMs` and its state operators' sums. */
  final case class Batch(at: Long, durationMs: Map[String, Long], state: Map[String, Long])

  /** A window's profile; `jobs` holds each job's description. */
  final case class Gate(t0: Long, t1: Long, jobs: Seq[String], stages: Seq[Stage],
      planningMs: Map[String, Long], cachedBytes: Long, cachedFrames: Int,
      batches: Seq[Batch]) {
    /** Wall time of the window during which none of its stages ran. */
    def driverGapMs: Long = {
      var (reach, busy) = (t0, 0L)
      stages.map(s => (s.start, math.min(s.end, t1))).sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { busy += e - math.max(s, reach); reach = e }
      }
      t1 - t0 - busy
    }
  }

  /** Linear-interpolated quantile of a non-empty sample, q in [0, 1]. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val (s, pos) = (xs.sorted, (xs.size - 1) * q)
    s(pos.toInt) + (s(math.min(pos.toInt + 1, s.size - 1)) - s(pos.toInt)) * (pos - pos.toInt)
  }

  /** A JSON object; a `String` value is already-rendered JSON. */
  private def obj(fields: Iterable[(String, Any)]): String = fields.map {
    case (k, v: Double) => Verify.jstr(k) + ":" + f3(v)
    case (k, v) => Verify.jstr(k) + ":" + v
  }.mkString("{", ",", "}")

  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A gate's JSON entry: the sample that set its reported minimum, with
    * the median and interquartile range of its successful samples.
    */
  def gateJson(sec: Double, g: Gate, goodSecs: Seq[Double]): String = {
    val secs = if (goodSecs.nonEmpty) goodSecs else Seq(sec)
    val slow = g.stages.sortBy(s => s.start - s.end).take(8).map(s => obj(Seq("id" -> s.id,
      "wall_ms" -> (s.end - s.start)) ++ s.metrics ++ Seq("name" -> Verify.jstr(s.name))))
    def medians(f: Batch => Map[String, Long]) = obj(g.batches.flatMap(f(_).keys).distinct.sorted
      .map(k => k -> quantile(g.batches.flatMap(f(_).get(k)).map(_.toDouble), 0.5)))
    val streaming = if (g.batches.isEmpty) Nil else Seq("batches" -> g.batches.size,
      "batch_ms" -> medians(_.durationMs), "batch_state" -> medians(_.state))
    obj(Seq("min_s" -> sec, "median_s" -> quantile(secs, 0.5),
      "iqr_s" -> (quantile(secs, 0.75) - quantile(secs, 0.25)), "samples" -> secs.size,
      "jobs" -> g.jobs.size, "stages" -> g.stages.size,
      "job_descriptions" -> obj(g.jobs.groupMapReduce(identity)(_ => 1)(_ + _).toSeq.sorted)) ++
      StageKeys.map(k => k -> g.stages.map(_.metrics.toMap.apply(k)).sum) ++
      Seq("driver_gap_ms" -> g.driverGapMs, "planning_ms" -> obj(g.planningMs.toSeq.sorted),
        "cached_bytes" -> g.cachedBytes, "cached_frames" -> g.cachedFrames,
        "slow_stages" -> slow.mkString("[", ",", "]")) ++ streaming)
  }

  private def loadAverage: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
