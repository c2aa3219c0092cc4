package graft

import java.util.concurrent.{CancellationException, ExecutionException, ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.SparkContext
import org.apache.spark.sql.graftshim.SchedulerShim

/** Bounded concurrent submission of independent Spark actions.
  *
  * Driver-sequenced work whose jobs share nothing (PQ subspace training,
  * the FHIR pipeline's per-table materializations and writes) leaves
  * most cores idle behind each job's stage barriers when submitted one
  * after another. [[apply]] submits the thunks from a small pool so one
  * job's tail back-fills the others:
  *
  *  - at most `defaultParallelism` threads, daemon threads (a live pool
  *    must never keep the JVM from exiting), shut down before returning;
  *  - every job of one call shares one job group, and each thunk runs
  *    under its own job description, so event logs and the
  *    [[Profiler]]'s `job_descriptions` name the step that ran it;
  *  - on the first failure the group is cancelled together with any job
  *    a sibling submits later, queued thunks never start, and the
  *    thunk's own exception is rethrown once the pool is gone: no job of
  *    a failed call outlives it. Running siblings are not interrupted:
  *    AQE submits its map stages from its own threads, and a query
  *    interrupted mid-plan leaves them to start later, outside the pool
  *    (the future-job block does not stop map stages). A sibling fails
  *    at its next cancelled or blocked job instead, through AQE's own
  *    cleanup. The call's job tag (the group's id) is then cancelled
  *    too, and the call waits until the scheduler has handled it, so
  *    every job the call submitted has started and ended by then.
  */
object FanOut {

  /** Name prefix of every pool thread (diagnostics and tests). */
  val ThreadPrefix = "graft-fanout"

  private val threadIds = new AtomicInteger()
  private val daemonThreads: ThreadFactory = { r =>
    val t = new Thread(r, s"$ThreadPrefix-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Run `tasks` (job description → thunk) concurrently; results in
    * task order, not completion order.
    */
  def apply[T](sc: SparkContext, name: String)(tasks: Seq[(String, () => T)]): Seq[T] = {
    val group = s"graft-$name-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, sc.defaultParallelism)), daemonThreads)
    val done = new ExecutorCompletionService[(Int, T)](pool)
    val failed = new AtomicBoolean()
    try {
      tasks.zipWithIndex.foreach { case ((desc, body), i) =>
        done.submit { () =>
          if (failed.get) throw new CancellationException(s"graft.FanOut $name failed")
          sc.setJobGroup(group, desc, interruptOnCancel = true)
          sc.addJobTag(group)
          try (i, body()) finally { sc.removeJobTag(group); sc.clearJobGroup() }
        }
      }
      val out = new Array[Any](tasks.size)
      try tasks.indices.foreach { _ =>
        val (i, t) = done.take().get()
        out(i) = t
      } catch { case e: Throwable =>
        failed.set(true)
        sc.cancelJobGroupAndFutureJobs(group)
        throw (e match {
          case x: ExecutionException => x.getCause
          case x => x
        })
      }
      out.toSeq.asInstanceOf[Seq[T]]
    } finally {
      pool.shutdown()
      pool.awaitTermination(30, TimeUnit.SECONDS)
      // no pool thread submits any more: every job of the call is queued ahead of this cancel
      if (failed.get) SchedulerShim.cancelTagAndWait(sc, group, s"graft.FanOut $name failed", 30000)
    }
  }

  /** Run `body` on the calling thread under job description `desc`,
    * restoring the caller's.
    */
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prior)
  }
}
