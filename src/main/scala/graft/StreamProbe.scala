package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** r19 measurement utility (guide §1): run one streaming registry gate
  * with a StreamingQueryListener attached and print the per-micro-batch
  * `durationMs` breakdown (triggerExecution / queryPlanning / getBatch /
  * addBatch / walCommit / commitOffsets / latestOffset) plus state-store
  * metrics — the data needed to attribute the streaming family's
  * per-batch floor to planning vs WAL I/O vs state commit vs execution
  * before touching anything. Usage:
  *   runMain graft.StreamProbe <gate> [sfDir] [cpus]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamProbe <gate> [sfDir] [cpus]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = Bench.session(cpus)
    val sb = new StringBuilder
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        sb.append(s"START ${e.id}\n")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val st = Option(p.stateOperators).getOrElse(Array.empty)
        val stS = st.map(s => s"commit=${s.allUpdatesTimeMs}/${s.commitTimeMs}ms " +
          s"rows=${s.numRowsTotal} mem=${s.memoryUsedBytes}").mkString("; ")
        sb.append(f"batch=${p.batchId}%3d rows=${p.numInputRows}%6d " +
          s"durTotal=${d.get("triggerExecution")} plan=${d.get("queryPlanning")} " +
          s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
          s"addBatch=${d.get("addBatch")} walCommit=${d.get("walCommit")} " +
          s"commitOffsets=${d.get("commitOffsets")} state[$stS]\n")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        sb.append(s"END\n")
    })
    // same per-gate hygiene as Bench.timeOne
    graft.CachedFrames.releaseAll()
    spark.catalog.clearCache()
    val fn = SparkEntry.queries(name)
    // two visits: first absorbs codegen/class-load; second is the floor
    for (pass <- 1 to 2) {
      sb.append(s"--- pass $pass ---\n")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      sb.append(f"pass $pass wall: ${(System.nanoTime() - t0) / 1e9}%.3f s\n")
      graft.CachedFrames.releaseAll()
      spark.catalog.clearCache()
    }
    // listener events are async — drain before printing
    Thread.sleep(1000)
    println(sb.toString)
    spark.stop()
  }
}
