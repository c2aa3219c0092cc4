package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the configuration `graft.Bench` builds
  * with its environment knobs at their defaults, plus the engine's
  * optimizer rule and WARN logging. `tests/test_session_parity.py` fails
  * when this list drifts from `Bench.scala`.
  */
object BenchSession {
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.debug.maxToStringFields" -> "2000",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  def build(cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    confs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.JaccardLengthFilter
    spark
  }

  /** SHA-256 over the session's effective values of [[confs]]' keys and
    * the extra optimizer rules, so two runs can be checked for the same
    * configuration from their artifacts alone.
    */
  def digest(spark: SparkSession): String = {
    val lines = confs(spark.sparkContext.defaultParallelism).map(_._1).sorted
      .map(k => s"$k=${spark.conf.get(k)}") ++
      spark.experimental.extraOptimizations.map(r => s"rule=${r.ruleName}")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
  }
}
