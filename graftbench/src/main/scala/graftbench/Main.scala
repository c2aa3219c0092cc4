package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set up a workload, run its untimed
  * correctness/warm-up pass, measure it for `--seconds` with tracing off,
  * and, with `--trace 1`, measure it again with spans and listener
  * counters on. Everything measured goes to the run record at `--out`
  * (JSON); `graftbench/run.py` turns the record into metrics.
  *
  * Arguments: --workload --seed --seconds --trace --data --work --out
  * --cpus, and --gates (comma list) for the query workloads.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cpus: Int, gates: Seq[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), kv("cpus").toInt,
      kv.getOrElse("gates", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val rec = new Record
    rec("jvm_start_epoch_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = BenchSession.build(o.cpus)
    rec("session_ready_epoch_ms") = System.currentTimeMillis()
    rec("conf_digest") = BenchSession.digest(spark)
    rec("confs") = BenchSession.confs(o.cpus).toMap
    rec("jvm_args") = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.toSeq.map(_.toString).filter(a => a.startsWith("-X") || a.startsWith("-XX"))
    try {
      Workload(o.workload, spark, o, rec).run()
    } catch {
      case e: Throwable =>
        rec.fail("run", e)
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(o.out), rec.json)
      spark.stop()
    }
  }
}

/** The run record: named fields plus the ops of each measured window. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  def update(k: String, v: Any): Unit = fields(k) = v
  def fail(op: String, e: Throwable): Unit =
    failures += Map("op" -> op,
      "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
  def failMsg(op: String, msg: String): Unit = failures += Map("op" -> op, "error" -> msg)
  def json: String = Record.mapper.writeValueAsString(fields.toMap + ("failures" -> failures.toSeq))
}

object Record {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
}

/** One measured op: `items` is the work it completed (bundles, events or
  * one query); `extra` carries per-op layer readings of a traced window.
  */
final case class OpRec(name: String, ms: Double, ok: Boolean, items: Long,
    pass: Int, extra: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val o: Main.Opts, val rec: Record) {
  protected val rng = new Random(o.seed)

  def setup(): Unit
  /** The untimed pass: first touch of every code path, plus the output
    * correctness checks. Returns the number of ops it attempted.
    */
  def warm(): Int
  /** Run timed ops for at least `o.seconds`; whole passes only. */
  def window(tracer: Tracer): Seq[OpRec]
  /** Checks the window's outputs once it has ended; marks failed ops. */
  def afterWindow(ops: Seq[OpRec]): Seq[OpRec] = ops
  /** Checks the warm-up's outputs once every window has ended. */
  def checkWarm(): Unit = ()

  /** A small traced op of this workload's layers. The traced run of every
    * other workload runs it after its traced window, so that each layer's
    * metrics are measured on every run, not only where the layer is busy.
    */
  def probe(tracer: Tracer): Seq[OpRec]

  def run(): Unit = {
    val t0 = System.nanoTime()
    setup()
    rec("setup_jvm_s") = (System.nanoTime() - t0) / 1e9
    val tw = System.nanoTime()
    rec("warm_attempted") = warm()
    rec("warm_s") = (System.nanoTime() - tw) / 1e9
    rec("first_op_epoch_ms") = System.currentTimeMillis()
    rec("untraced") = measured(new Tracer(false, spark.sparkContext))
    rec("heap_retained_mb") = Workload.retainedHeapMb()
    checkWarm()
    if (o.trace) traced()
  }

  private def traced(): Unit = {
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(true, spark.sparkContext)
    rec("traced") = measured(tracer)
    stats.drain()
    rec("task_totals") = stats.total.toMap
    val probeRec = new Record
    rec("probe_ops") = Workload.names.filter(_ != o.workload).flatMap { w =>
      val po = o.copy(workload = w, work = s"${o.work}/probe_$w", gates = Queries.ProbeGates)
      try Workload(w, spark, po, probeRec).probe(tracer).map(Workload.opJson)
      catch { case e: Throwable => probeRec.fail(s"probe_$w", e); Nil }
    }
    rec.failures ++= probeRec.failures
    stats.drain()
    spark.sparkContext.removeSparkListener(stats)
    rec("spans") = tracer.recorded.map(s => Seq(s.id, s.parent, s.op, s.name, s.layer,
      s.startNs, s.endNs))
    rec("job_stats") = stats.snapshot.toSeq.map { case ((op, span), a) =>
      Map("op" -> op, "span" -> span, "jobs" -> a.jobs, "stages" -> a.stages,
        "tasks" -> a.tasks, "stage_intervals" -> a.stageIntervals.map(x => Seq(x._1, x._2)))
    }
    // a second untraced window after the traced one: the overhead is
    // taken against both, so warm-up still going on between windows
    // does not pass for (negative) tracing cost
    rec("untraced_after") = measured(new Tracer(false, spark.sparkContext))
    rec("functions") = Kernels.measure(spark, o.data)
  }

  private def measured(tracer: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    val ops = window(tracer)
    val wall = (System.nanoTime() - t0) / 1e9
    Map("wall_s" -> wall, "cores" -> o.cpus, "ops" -> afterWindow(ops).map(Workload.opJson))
  }

  protected def nextOp(): Int = Workload.opIds.incrementAndGet()

  /** Runs `pass` (1, 2, ...) until the window is spent: another pass
    * starts only while at least half of it would still fit in `o.seconds`,
    * so a window is about `o.seconds` long and always holds whole passes.
    */
  protected def passes(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var last = 0.0
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i == 0 || elapsed + last / 2 < o.seconds) {
      i += 1
      val s = elapsed
      pass(i)
      last = elapsed - s
    }
  }

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  protected def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(dirBytes).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  protected def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Workload {
  val names = Seq("fhir_etl", "stream_replay", "analytics")

  def apply(name: String, spark: SparkSession, o: Main.Opts, rec: Record): Workload =
    name match {
      case "fhir_etl" => new FhirEtl(spark, o, rec)
      case "stream_replay" => new StreamReplay(spark, o, rec)
      case "analytics" => new Queries(spark, o, rec)
      case other => sys.error(s"unknown workload $other")
    }

  /** Op ids are unique in the JVM, across a run's workload and its probes. */
  val opIds = new java.util.concurrent.atomic.AtomicInteger()

  def opJson(r: OpRec): Map[String, Any] = Map("name" -> r.name, "ms" -> r.ms, "ok" -> r.ok,
    "items" -> r.items, "pass" -> r.pass, "extra" -> r.extra)

  /** Driver heap in use after a full collection: the least of five, since
    * Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    * collection has cleared their handles, and two collections in a row
    * read 82, 114 or 211 MB on the same fhir_etl batch.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used
    }.min / (1024.0 * 1024.0)
  }
}

/** `analytics`: registry gates from `SparkEntry.queries`,
  * each timed end to end and materialized with a `noop` write, with the
  * engine's internal caches released between gates as `graft.Bench` does.
  */
final class Queries(spark: SparkSession, o: Main.Opts, rec: Record)
    extends Workload(spark, o, rec) {
  /** Gates whose time goes to `ops/Prefix` rank statistics. */
  val RankGates = Set("auc_score", "roc_curve", "pr_curve", "score_ks", "avg_precision",
    "ranksum_test", "kruskal_test", "spearman_corr", "cost_concentration", "ks_drift")

  private val registry = graft.SparkEntry.queries
  private val gates = o.gates.map(g => g -> registry.getOrElse(g, sys.error(s"no gate $g")))

  private def release(): Unit = {
    graft.CachedFrames.releaseAll()
    spark.catalog.clearCache()
  }

  def setup(): Unit = ()

  def probe(tracer: Tracer): Seq[OpRec] = gates.map { case (name, fn) => one(tracer, name, fn, 0) }

  def warm(): Int = {
    val out = s"${o.work}/outputs"
    val passStart = System.nanoTime()
    rng.shuffle(gates).foreach { case (name, fn) =>
      release()
      try fn(spark, o.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => rec.fail(name, e) }
    }
    release()
    rec("warm_pass_s") = (System.nanoTime() - passStart) / 1e9
    writeOracleInputs(out)
    gates.size
  }

  /** The oracle SQL of each gate, as `graft.Verify` writes it. */
  private def writeOracleInputs(out: String): Unit = {
    graft.BenchHooks.setOracleInputDir(o.data)
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Record.mapper.writeValueAsString(o.gates.flatMap(g => sql.get(g).map(g -> _)).toMap))
  }

  def window(tracer: Tracer): Seq[OpRec] = {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    passes(pass => rng.shuffle(gates).foreach { case (name, fn) =>
      ops += one(tracer, name, fn, pass)
    })
    ops.toSeq
  }

  private def one(tracer: Tracer, name: String,
      fn: (SparkSession, String) => DataFrame, pass: Int): OpRec = {
    val op = nextOp()
    var extra = Map.empty[String, Double]
    val (ok, ms) = timed {
      try {
        tracer.op(op, name, "session") {
          val df = tracer.span("dispatch", "session")(fn(spark, o.data))
          if (tracer.enabled) {
            val (_, planMs) = timed(tracer.span("plan", "session")(df.queryExecution.executedPlan))
            extra += "plan_ms" -> planMs
          }
          tracer.span("execute", if (RankGates(name)) "ops" else "executor") {
            df.write.format("noop").mode("overwrite").save()
          }
        }
        true
      } catch { case e: Throwable => rec.fail(name, e); false }
    }
    if (tracer.enabled) {
      extra += "registered_frames" -> graft.CachedFrames.registeredCount.toDouble
      extra += "cached_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      extra += "rank_gate" -> (if (RankGates(name)) 1.0 else 0.0)
      extra += "op_id" -> op.toDouble
      tracer.op(op, "release", "cached_frames")(release())
    } else release()
    OpRec(name, ms, ok, 1L, pass, extra)
  }
}

object Queries {
  /** One rank statistic and one light gate, both over `events`. */
  val ProbeGates = Seq("auc_score", "heavy_hitters")
}

object FhirEtl {
  import graft.fhir.FhirCorpus

  /** The generator's predictions for an n-bundle corpus. */
  final case class Expected(n: Int) {
    val raw = FhirCorpus.expectedEntryCounts(n).toMap
    val rows = FhirCorpus.expectedRows(n)
    val comorb = FhirCorpus.expectedComorbidity(n)
      .map(x => (x.item_a, x.item_b, x.n_ab, x.lift)).sorted
    val charlson = FhirCorpus.expectedCharlson(n)
      .map(x => (x.patient_id, x.n_items, x.n_weighted, x.score)).sorted
    val latest = FhirCorpus.expectedLatestObs(n).map(x => (x.patient_id, x.hba1c_value)).sorted
  }

  /** One batch's read-back, for the checks, and its layer readings. */
  final case class Out(rawCounts: Map[String, Long], counts: Map[String, Long],
      comorbidity: Seq[org.apache.spark.sql.Row], charlson: Seq[org.apache.spark.sql.Row],
      latest: Seq[org.apache.spark.sql.Row], extra: Map[String, Double])
}

/** `fhir_etl`: one op is one nightly batch over the generated bundle
  * corpus — `Pipeline.run`, the six cleaned tables and both QC summaries
  * through `Sinks.writeParquet`, then the tables read back into
  * `GraphOps.cooccurrenceLift`, `Profiling.weightedIndex` and
  * `TimeSeries.pivotLatest`. The traced run calls the pipeline's layers
  * one by one and materializes at each boundary instead.
  */
final class FhirEtl(spark: SparkSession, o: Main.Opts, rec: Record)
    extends Workload(spark, o, rec) {
  import graft.fhir.{BundleReader, Cleaning, Extractors, FhirCorpus, Pipeline}
  import FhirEtl.{Expected, Out}
  val Bundles = 1000
  /** The traced run's warm-up batch runs the same plans over a small corpus. */
  val WarmBundles = 50
  private val corpus = s"${o.work}/fhir_corpus"
  private val warmCorpus = s"${o.work}/fhir_warm_corpus"
  private val sink = s"${o.work}/fhir_out"
  private val tableNames = Seq("patient", "encounter", "condition", "observation",
    "immunization", "careplan")
  private var inBytes = 0L

  private lazy val expected = Expected(Bundles)

  def setup(): Unit = {
    // always a fresh corpus: FhirCorpus.generate reuses a finished corpus,
    // and a reused one made set-up time depend on what an earlier run left
    val (_, genMs) = timed(FhirCorpus.generate(Paths.get(corpus), Bundles))
    rec("fhir_corpus_gen_s") = genMs / 1000
    if (o.trace) FhirCorpus.generate(Paths.get(warmCorpus), WarmBundles)
    inBytes = dirBytes(new File(corpus))._1
    rec("fhir_in_bytes") = inBytes
    rec("fhir_files") = dirBytes(new File(corpus))._2 - 1 // minus the marker
  }

  def probe(tracer: Tracer): Seq[OpRec] = {
    FhirCorpus.generate(Paths.get(warmCorpus), WarmBundles)
    inBytes = dirBytes(new File(warmCorpus))._1
    val op = nextOp()
    val (r, ms) = timed(batch(tracer, op, warmCorpus))
    val ok = check(r, s"probe$op", Expected(WarmBundles))
    Seq(OpRec("batch", ms, ok, WarmBundles, 0, r.extra + ("op_id" -> op.toDouble)))
  }

  /** A nightly batch runs in a fresh JVM, so the measured op is the
    * first batch of the process: no warm-up. The traced run warms up
    * first, so that its traced and untraced batches compare like with like.
    */
  def warm(): Int =
    if (!o.trace) 0
    else {
      val (r, ms) = timed(batch(new Tracer(false, spark.sparkContext), nextOp(), warmCorpus))
      rec("warm_pass_s") = ms / 1000
      check(r, "warm", Expected(WarmBundles))
      1
    }

  def window(tracer: Tracer): Seq[OpRec] = {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    passes { pass =>
      val op = nextOp()
      val (r, ms) = timed(try Some(batch(tracer, op, corpus)) catch {
        case e: Throwable => rec.fail(s"batch$op", e); None
      })
      val ok = r.exists(x => check(x, s"batch$op", expected))
      val extra = r.map(_.extra + ("op_id" -> op.toDouble)).getOrElse(Map.empty)
      ops += OpRec("batch", ms, ok, Bundles, pass, extra)
    }
    ops.toSeq
  }

  private def batch(tracer: Tracer, op: Int, corpus: String): Out = tracer.op(op, "batch", "fhir") {
    // (cleaned tables, initial QC, final QC, raw row counts once written)
    val (tables, iq, fq, rawCounts) =
      if (!tracer.enabled) {
        val r = Pipeline.run(spark, corpus)
        (r.tables, r.initialQuality, r.finalQuality,
          () => r.accounting.map { case (n, a) => n -> a.summary("rows_before") })
      } else {
        val entries = tracer.span("scan", "fhir") {
          val e = BundleReader.normalizedEntries(spark, corpus).cache()
          e.count()
          e
        }
        val (raw, cleaned) = tracer.span("extract_clean", "fhir") {
          val raw = Extractors.allTables(entries).map { case (n, d) => n -> d.cache() }
          val cleaned = Cleaning.all(raw).map { case (n, d) => n -> d.cache() }
          raw.values.foreach(_.count())
          cleaned.values.foreach(_.count())
          (raw, cleaned)
        }
        val (iq, fq) = tracer.span("qc", "quality") {
          val iq = graft.quality.FhirQuality.runQualityChecks(raw).cache()
          val fq = graft.quality.FhirQuality.runQualityChecks(cleaned).cache()
          iq.count()
          fq.count()
          (iq, fq)
        }
        (cleaned, iq, fq, () => raw.map { case (n, d) => n -> d.count() })
      }
    val (_, writeMs) = timed(tracer.span("write", "sinks") {
      tables.foreach { case (n, df) =>
        graft.sinks.Sinks.writeParquet(graft.sinks.Sinks.underscored(df), s"$sink/$n")
      }
      graft.sinks.Sinks.writeParquet(iq, s"$sink/initial_quality")
      graft.sinks.Sinks.writeParquet(fq, s"$sink/final_quality")
    })
    val raw = rawCounts()
    spark.catalog.clearCache()
    val ((counts, comorb, charlson, latest), readMs) = timed(tracer.span("readback", "sinks") {
      val back = tableNames.map(n => n -> spark.read.parquet(s"$sink/$n")).toMap
      val counts = back.map { case (n, d) => n -> d.count() }
      val basket = back("condition").select(col("patient_id"), col("condition_display"))
      tracer.span("analyze", "ops") {
        val comorb = graft.ops.GraphOps.cooccurrenceLift(basket, "patient_id",
          "condition_display", minCount = 2L).collect().toSeq
        val charlson = graft.ops.Profiling.weightedIndex(basket, "patient_id",
          "condition_display", FhirCorpus.CharlsonWeights).collect().toSeq
        val obs = back("observation").select(col("patient_id"), col("observation_type"),
          col("resource_effectiveDateTime").as("eff"),
          col("resource_valueQuantity_value").as("v"), col("resource_id").as("rid"))
        val latest = graft.ops.TimeSeries.pivotLatest(obs, "patient_id",
          "observation_type", "eff", "v", Seq("HbA1c"), "rid").collect().toSeq
        (counts, comorb, charlson, latest)
      }
    })
    val (outBytes, outFiles) = dirBytes(new File(sink))
    Out(raw, counts, comorb, charlson, latest,
      Map("write_ms" -> writeMs, "readback_ms" -> readMs,
        "bytes_written" -> outBytes.toDouble, "files_written" -> outFiles.toDouble,
        "out_bytes_per_in_byte" -> outBytes.toDouble / inBytes,
        "entries" -> raw.values.sum.toDouble,
        "files" -> (dirBytes(new File(corpus))._2 - 1).toDouble)) // minus the marker
  }

  /** Compare a batch's read-back with the generator's predictions. */
  private def check(r: Out, op: String, exp: Expected): Boolean = {
    val problems = mutable.ArrayBuffer.empty[String]
    val typeOf = Map("patient" -> "Patient", "encounter" -> "Encounter",
      "condition" -> "Condition", "observation" -> "Observation",
      "immunization" -> "Immunization", "careplan" -> "CarePlan")
    tableNames.foreach { n =>
      if (r.rawCounts.get(n) != exp.raw.get(typeOf(n)))
        problems += s"$n raw rows ${r.rawCounts.get(n)} != ${exp.raw.get(typeOf(n))}"
    }
    exp.rows.foreach { e =>
      if (r.counts.get(e.table) != Some(e.n_rows))
        problems += s"${e.table} rows ${r.counts.get(e.table)} != ${e.n_rows}"
    }
    val comorb = r.comorbidity.map(x => (x.getAs[String]("item_a"), x.getAs[String]("item_b"),
      x.getAs[Long]("n_ab"), x.getAs[Double]("lift"))).sorted
    if (comorb != exp.comorb) problems += s"comorbidity ${comorb.take(3)} != ${exp.comorb.take(3)}"
    val charlson = r.charlson.map(x => (x.getAs[String]("patient_id"),
      x.getAs[Long]("n_items"), x.getAs[Long]("n_weighted"), x.getAs[Long]("score"))).sorted
    if (charlson != exp.charlson)
      problems += s"charlson differs (${charlson.size} vs ${exp.charlson.size} rows)"
    val latest = r.latest
      .map(x => (x.getAs[String]("patient_id"), x.getAs[Double]("HbA1c_value"))).sorted
    if (latest != exp.latest)
      problems += s"latest obs differs (${latest.size} vs ${exp.latest.size} rows)"
    if (problems.nonEmpty) rec.failMsg(op, problems.mkString("; "))
    problems.isEmpty
  }
}

/** `stream_replay`: the generated events staged as an event-time backlog
  * (one file per four hours of event time), drained one chunk per
  * trigger through `Streams.latestStateChangesTws` on the RocksDB state
  * store into a checkpointed parquet file sink. One op is one drain of
  * [[TimedChunks]] chunks from a fresh checkpoint; its micro-batches are
  * the latency samples.
  */
final class StreamReplay(spark: SparkSession, o: Main.Opts, rec: Record)
    extends Workload(spark, o, rec) {
  import graft.streaming.Streams
  import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, Trigger}
  import org.apache.spark.sql.types._
  val BucketUs = 4L * 3600L * 1000000L
  val Ttl = java.time.Duration.ofHours(6)
  val StatePartitions = 2
  val WarmChunks = 8
  /** Micro-batches per timed drain: sized so one drain takes about 10 s
    * at the 0.3-0.4 s per-batch floor measured on 4 cores.
    */
  val TimedChunks = 26
  private val schema = StructType(Seq(StructField("user_id", LongType),
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("value", DoubleType)))
  private var chunks, warmChunks: String = _
  private val progress = new java.util.concurrent.ConcurrentHashMap[
    java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  def setup(): Unit = {
    val all = spark.read.parquet(s"${o.data}/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts"), col("value").cast("double").as("value"))
    val t0 = all.agg(min(col("ts"))).head().getLong(0)
    val events = all.filter(col("ts") < lit(t0 + (WarmChunks + TimedChunks) * BucketUs))
    val staged = new File(Streams.stageEventTimeReplay(events, "ts", bucketUs = BucketUs))
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // the warm-up drain replays the first WarmChunks chunks, the timed
    // drains the rest; copies keep their modification times, which set
    // the file source's replay order
    def place(dir: String, files: Seq[File]): String = {
      new File(dir).mkdirs()
      files.foreach { f =>
        val dst = new File(dir, f.getName)
        Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(f.lastModified)
      }
      dir
    }
    warmChunks = place(s"${o.work}/warm_chunks", staged.take(WarmChunks).toSeq)
    chunks = place(s"${o.work}/timed_chunks", staged.drop(WarmChunks).toSeq)
    rec("stream_chunks") = staged.length
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.computeIfAbsent(e.progress.runId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    })
  }

  def warm(): Int = {
    val t0 = System.nanoTime()
    val op = nextOp()
    drain(new Tracer(false, spark.sparkContext), op, warmChunks)
    rec("warm_pass_s") = (System.nanoTime() - t0) / 1e9
    warmOp = op
    1
  }

  private var warmOp = 0
  override def checkWarm(): Unit = check(warmOp, warmChunks)

  def probe(tracer: Tracer): Seq[OpRec] = {
    setup()
    val op = nextOp()
    val batches = drain(tracer, op, warmChunks)
    val ok = check(op, warmChunks)
    batches.map(_.copy(ok = ok))
  }

  def window(tracer: Tracer): Seq[OpRec] = {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    passes { pass =>
      val op = nextOp()
      val (batches, ms) = timed(drain(tracer, op, chunks))
      ops += OpRec("drain", ms, true, batches.map(_.items).sum, pass, Map("op_id" -> op))
      ops ++= batches.map(_.copy(pass = pass))
    }
    ops.toSeq
  }

  /** Each drain's output is checked after the window, outside its time. */
  override def afterWindow(ops: Seq[OpRec]): Seq[OpRec] = {
    val failedPasses = ops.filter(_.name == "drain")
      .filterNot(d => check(d.extra("op_id").toInt, chunks)).map(_.pass).toSet
    ops.map(r => if (failedPasses(r.pass)) r.copy(ok = false) else r)
  }

  private def drainDir(op: Int): String = s"${o.work}/stream/op$op"

  /** One drain: returns a record per non-empty micro-batch. */
  private def drain(tracer: Tracer, op: Int, src: String): Seq[OpRec] = {
    val root = drainDir(op)
    val ckpt = s"$root/ckpt"
    val runId = tracer.op(op, "drain", "streaming") {
      Streams.withRocksDbProvider(spark) {
        val key = "spark.sql.shuffle.partitions"
        val prior = spark.conf.get(key)
        spark.conf.set(key, StatePartitions.toString)
        try {
          import spark.implicits._
          val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(src).as[Streams.ObsEvent]
          val q = Streams.latestStateChangesTws(in, Ttl, outputMode = OutputMode.Append())
            .writeStream.format("parquet").option("path", s"$root/out")
            .option("checkpointLocation", ckpt).outputMode(OutputMode.Append())
            .trigger(Trigger.AvailableNow()).start()
          try q.awaitTermination() finally q.stop()
          q.runId
        } finally spark.conf.set(key, prior)
      }
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!terminated.contains(runId) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    val batches = Option(progress.remove(runId)).map(_.toArray.toSeq).getOrElse(Nil)
      .map(_.asInstanceOf[org.apache.spark.sql.streaming.StreamingQueryProgress])
      .filter(_.numInputRows > 0)
    val ckptBytes = dirBytes(new File(ckpt))._1.toDouble
    batches.map { p =>
      val d = p.durationMs
      def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val st = p.stateOperators.headOption
      val extra =
        if (!tracer.enabled) Map.empty[String, Double]
        else Map("add_batch_ms" -> dur("addBatch"), "query_planning_ms" -> dur("queryPlanning"),
          "wal_commit_ms" -> dur("walCommit"), "commit_offsets_ms" -> dur("commitOffsets"),
          "latest_offset_ms" -> dur("latestOffset"), "get_batch_ms" -> dur("getBatch"),
          "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
          "state_all_updates_ms" -> st.map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0),
          "state_rows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "state_mem_mb" -> st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
          "ckpt_bytes_per_batch" -> ckptBytes / batches.size)
      OpRec("batch", dur("triggerExecution"), true, p.numInputRows, 0, extra)
    }
  }

  /** The drain's final per-key state (each user's last upsert) and its
    * upsert count against a batch recomputation over the same events.
    */
  private def check(op: Int, src: String): Boolean = try {
    val in = spark.read.schema(schema).parquet(src)
    val feed = spark.read.parquet(s"${drainDir(op)}/out")
    val upserts = feed.filter(col("op") === "upsert")
    val got = upserts.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("s"))
    val exp = in.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("s"))
    val stateDiff = got.exceptAll(exp).count() + exp.exceptAll(got).count()
    val expUpserts = in.select(col("user_id"), (col("ts") / BucketUs).cast("long"))
      .distinct().count()
    val nUpserts = upserts.count()
    val ok = stateDiff == 0 && nUpserts == expUpserts
    if (!ok) rec.failMsg(s"drain$op", s"final state rows differing: $stateDiff; " +
      s"upserts $nUpserts vs expected $expUpserts")
    ok
  } catch { case e: Throwable => rec.fail(s"drain$op", e); false }
}

/** The `functions` layer timed in the JVM without Spark: the text kernels
  * over the generated documents and `VecKernels.dot` over the embeddings.
  */
object Kernels {
  import graft.functions.{TextKernels, VecKernels}

  private def perItem(items: Int)(body: => Unit): Double = {
    body // warm
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || reps < 2) { body; reps += 1 }
    (System.nanoTime() - t0).toDouble / (reps.toLong * items)
  }

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text")
      .collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("embedding")
      .collect().map { r =>
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(r.getSeq[Float](0).toArray)
      }
    val shingles = texts.map(TextKernels.shingleHashSet(_, 3))
    // every result feeds `sink`, which is returned, so no call is dead code
    var sink = 0L
    val nPairs = vecs.length - 1
    Map(
      "shingleHashSet" -> perItem(texts.length)(texts.foreach(t =>
        sink += TextKernels.shingleHashSet(t, 3).length)),
      "minhashSignature" -> perItem(texts.length)(shingles.foreach(s =>
        sink += Option(TextKernels.minhashSignature(s, graft.ops.Dedup.NumHashes)).size)),
      "simhash64" -> perItem(texts.length)(texts.foreach(t => sink += TextKernels.simhash64(t))),
      "bpeTokenCount" -> perItem(texts.length)(texts.foreach(t =>
        sink += TextKernels.bpeTokenCount(t))),
      "langId" -> perItem(texts.length)(texts.foreach(t => sink += TextKernels.langId(t).length)),
      "dot" -> perItem(nPairs)((0 until nPairs).foreach(i =>
        sink += VecKernels.dot(vecs(i), vecs(i + 1), true, true).hashCode)),
      "sink" -> (sink % 2).toDouble)
  }
}
