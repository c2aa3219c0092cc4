package graft

import scala.jdk.CollectionConverters._

class FanOutSpec extends SparkSpec {

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(FanOut.ThreadPrefix)).toSet

  /** Pool threads left alive, after giving exiting ones up to 5 s. */
  private def lingering(): Set[Thread] = {
    val deadline = System.currentTimeMillis() + 5000
    while (poolThreads.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    poolThreads
  }

  test("results come back in task order, each task's jobs under its own description") {
    val sc = spark.sparkContext
    val profiler = new Profiler(spark)
    try {
      val t0 = System.currentTimeMillis()
      val out = FanOut(sc, "spec")((0 until 6).map { i =>
        s"fanout task $i" -> (() => spark.range(0, i * 10L, 1, 2).count())
      })
      assert(out == (0 until 6).map(_ * 10L))
      val jobs = profiler.take(t0, System.currentTimeMillis()).jobs
      assert((0 until 6).forall(i => jobs.contains(s"fanout task $i")), jobs)
    } finally profiler.close()
    assert(lingering().isEmpty, "the pool must be gone when the call returns")
  }

  test("a failing thunk rethrows its own exception, and no job of its group starts afterwards") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val siblingJobs = new java.util.concurrent.atomic.AtomicInteger()
    val profiler = new Profiler(spark)
    try {
      val ex = intercept[IllegalStateException](FanOut(sc, "spec")(
        ("fanout failing" -> (() => { spark.range(10).count(); throw boom })) +:
          (1 to 3).map { i =>
            s"fanout sibling $i" -> (() => (1 to 200).foreach { _ =>
              spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
              siblingJobs.incrementAndGet()
            })
          }))
      assert(ex eq boom, s"expected the thunk's own exception, got $ex")
      assert(siblingJobs.get < 3 * 200, "the siblings must be cut short, not run to the end")
      val failedAt = System.currentTimeMillis()
      Thread.sleep(1500)
      val late = profiler.take(failedAt + 1, System.currentTimeMillis()).jobs
      assert(late.isEmpty, s"${late.size} jobs started after the call failed")
    } finally profiler.close()
    assert(lingering().isEmpty, "a failed call must not leave pool threads behind")
  }
}
