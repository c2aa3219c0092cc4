package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage cost probe (guide §1 empirical loop, headless): run one
  * registry gate warm and print every stage of the timed execution —
  * wall ms, summed executor run/CPU ms, task count, shuffle read/write
  * bytes — so "where does this gate spend its time" is a measurement,
  * not a plan-shape guess. `runMain graft.StageProbe <query> [sfDir]
  * [cpus]`. Runs on the engine session profile, [[Bench.session]].
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <query> [sfDir] [cpus]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = Bench.session(cpus)
    val fn = SparkEntry.queries(name)
    // warm pass: codegen/JIT/broadcast machinery, same as Bench pass-0
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.CachedFrames.releaseAll(); spark.catalog.clearCache()
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Int, Long, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
          m.executorRunTime, m.executorCpuTime / 1000000L, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    println(f"== $name warm pass: $sec%.3f s, ${stages.size} stages ==")
    println(f"${"id"}%5s ${"wall"}%7s ${"run"}%8s ${"cpu"}%8s ${"tasks"}%5s " +
      f"${"shR"}%10s ${"shW"}%10s  site")
    stages.sortBy(-_._3).foreach { case (id, nm, wall, run, cpu, n, sr, sw) =>
      println(f"$id%5d $wall%7d $run%8d $cpu%8d $n%5d $sr%10d $sw%10d  $nm")
    }
    spark.stop()
  }
}
