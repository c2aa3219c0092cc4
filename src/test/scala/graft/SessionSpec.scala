package graft

import org.apache.logging.log4j.{Level, LogManager}

/** The suite's session is the engine's session profile ([[Bench.session]]),
  * not a test-only builder, and installing the profile is idempotent.
  */
class SessionSpec extends SparkSpec {
  private def ruleCopies: Int =
    spark.experimental.extraOptimizations.count(_ == plans.JaccardLengthFilter)

  test("the shared test session carries the profile's confs") {
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.debug.maxToStringFields" -> "2000",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.sql.codegen.cache.maxEntries" -> "4000"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val core = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(core.get("spark.ui.enabled") == "false")
    assert(core.get("spark.ui.retainedJobs") == "100")
    assert(core.get("spark.ui.retainedStages") == "100")
    assert(core.get("spark.ui.retainedTasks") == "1000")
  }

  test("the JaccardLengthFilter rule is installed exactly once, also after a reinstall") {
    assert(ruleCopies == 1)
    assert(Bench.session(4) eq spark)
    assert(ruleCopies == 1)
  }

  test("only the WindowExec logger is muted; the global level stays WARN") {
    assert(LogManager.getLogger("org.apache.spark.sql.execution.window.WindowExec")
      .getLevel == Level.ERROR)
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }
}
