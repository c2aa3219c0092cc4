package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own call into a layer. Spans of
  * one op share `op`; `parent` is the id of the enclosing span (-1 for
  * the op's root). Times are epoch nanoseconds on one monotonic clock.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. When disabled, `span` runs its body and records
  * nothing, so the untraced run pays one branch per call. Each span also
  * tags the Spark jobs it launches with a job group naming the span, so
  * [[JobStats]] can attribute jobs, stages and tasks to it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now: Long = base + System.nanoTime()

  /** Run `body` as the root span of op `op`. */
  def op[T](op: Int, name: String, layer: String)(body: => T): T = {
    curOp = op
    span(name, layer)(body)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val priorGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack = id :: stack
      sc.setJobGroup(Tracer.group(curOp, id), name)
      val t0 = now
      try body
      finally {
        spans += Span(id, parent, curOp, name, layer, t0, now)
        stack = stack.tail
        if (priorGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty("spark.jobGroup.id", priorGroup)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  def group(op: Int, span: Int): String = s"graftbench:$op:$span"

  /** (op, span) of a job group set by [[Tracer.span]], if it is one. */
  def parseGroup(g: String): Option[(Int, Int)] =
    if (g == null || !g.startsWith("graftbench:")) None
    else g.split(':') match {
      case Array(_, o, s) => Some((o.toInt, s.toInt))
      case _ => None
    }
}

/** Per-span counters read from Spark's public listener API: jobs, stages,
  * tasks, task metrics and stage intervals, keyed by the (op, span) job
  * group the [[Tracer]] set when the job was submitted.
  */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var shuffleWrite, shuffleRead, spill, cpuNs, gcMs = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byKey = mutable.Map.empty[(Int, Int), Acc]
  /** Every task of the listener's lifetime, whatever its job group. */
  private val all = new Acc
  private val stageKey = mutable.Map.empty[Int, (Int, Int)]
  private var started, ended = 0L

  private def keyOf(props: java.util.Properties): Option[(Int, Int)] =
    Option(props).flatMap(p => Tracer.parseGroup(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    keyOf(e.properties).foreach { k =>
      byKey.getOrElseUpdate(k, new Acc).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOf(e.properties).foreach(k => stageKey(e.stageInfo.stageId) = k)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageKey.get(info.stageId).foreach { k =>
      val a = byKey.getOrElseUpdate(k, new Acc)
      a.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) a.stageIntervals += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    def add(a: Acc): Unit = {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
    add(all)
    stageKey.get(e.stageId).foreach(k => add(byKey.getOrElseUpdate(k, new Acc)))
  }

  /** Wait (bounded) until every started job's end event has arrived. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < started) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // task-end events trail their job's end
  }

  def snapshot: Map[(Int, Int), Acc] = synchronized(byKey.toMap)

  def total: Seq[(String, Long)] = synchronized(Seq("jobs" -> started, "tasks" -> all.tasks,
    "shuffle_write" -> all.shuffleWrite, "shuffle_read" -> all.shuffleRead,
    "spill" -> all.spill, "cpu_ns" -> all.cpuNs, "gc_ms" -> all.gcMs))
}
