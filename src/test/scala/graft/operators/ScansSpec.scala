package graft.operators

import graft.SparkSpec

/** The bounded probe behind every driver-or-distributed switch:
  * `Scans.collectAtMost` returns all rows up to its bound, None one row
  * past it, and runs no job for a non-positive bound.
  */
class ScansSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs, counted on a private job group. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"scans-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ScansSpec")
    try {
      val out = body
      Thread.sleep(500) // let queued listener events drain
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("collectAtMost: exactly max rows, max + 1, empty input and a non-positive bound") {
    val five = (1L to 5L).toDF("v").repartition(3)
    val got = Scans.collectAtMost(five, 5L).map(_.map(_.getLong(0)).sorted.toSeq)
    assert(got === Some(1L to 5L))
    assert(Scans.collectAtMost(five, 4L).isEmpty)
    assert(Scans.collectAtMost(five.limit(0), 3L).map(_.length) === Some(0))
    // the counter sees the probe's job at a positive bound …
    val (_, probeJobs) = jobsOf(Scans.collectAtMost(five, 1L))
    assert(probeJobs >= 1, "listener missed the probe job; the zero-job check would be vacuous")
    // … and none at a non-positive one
    for (max <- Seq(0L, -1L)) {
      val (out, jobs) = jobsOf(Scans.collectAtMost(five, max))
      assert(out.isEmpty, s"max=$max")
      assert(jobs === 0, s"max=$max ran $jobs job(s)")
    }
  }
}
