package graft

import org.apache.spark.sql.execution.{ExtendedMode, FormattedMode}

/** Plan-audit utility: print the extended (or formatted) explain of any
  * registry query without running it —
  * `runMain graft.PlanDump <query> [sfDir] [formatted]`. The per-operator
  * review loop this supports: confirm PushedFilters/ReadSchema reach the
  * scan, WholeStageCodegen spans stay wide, and no operator re-plans into
  * something that would not survive a 100× scale-up.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: PlanDump <query>[,<query>...] [sfDir] [formatted]; " +
      s"set SPARK_GRAFT_PLAN_OUT=<dir>/<suffix> to write <dir>/<query>_<suffix>.txt " +
      s"per query instead of stdout; queries: " +
      s"${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    // reject every unknown name up front, before any session or dump
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"PlanDump: unknown queries: ${unknown.mkString(", ")}")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2 && args(2) == "formatted") FormattedMode else ExtendedMode
    // out spec "plans/r20/before" → plans/r20/<query>_before.txt (one JVM
    // for a whole batch of dumps — per-query sbt startup dwarfs the dump)
    val outSpec = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val spark = Bench.session(4)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val text = df.queryExecution.explainString(mode)
      outSpec match {
        case Some(spec) =>
          val (dir, suffix) = {
            val p = java.nio.file.Paths.get(spec)
            (p.getParent, p.getFileName.toString)
          }
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(
            dir.resolve(s"${name}_$suffix.txt"), text.getBytes("UTF-8"))
        case None =>
          println(s"=== $name ===")
          println(text)
      }
      graft.CachedFrames.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
