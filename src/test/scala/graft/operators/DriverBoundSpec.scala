package graft.operators

import graft.SparkSpec
import graft.dedup.Components
import graft.pos.MarketBasket
import graft.similarity.Ann
import graft.text.SuffixArray
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one byte budget behind every driver-or-distributed switch:
  * `DriverBound`'s probe collects an input exactly at its charged
  * bytes, falls back one row over and runs no job on a negative budget;
  * charges within one switch add up; and every switch labels its jobs
  * with the path it took, both ways, then restores the caller's job
  * description.
  */
class DriverBoundSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs, counted on a private job group. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"driver-bound-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "DriverBoundSpec")
    try {
      val out = body
      Thread.sleep(500) // let queued listener events drain
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def five = (1L to 5L).toDF("v").repartition(3)

  private def probe(budget: Long, df: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
    DriverBound.withBudget("spec" -> budget) {
      DriverBound("spec", spark)(_.collect(df, DriverBound.rowBytes(df.schema)))
    }

  test("collect: exactly at the byte bound, one row over, empty input and a negative budget") {
    val perRow = DriverBound.rowBytes(five.schema)
    assert(perRow === 32L + 8L + 16L)
    val got = probe(5L * perRow, five).map(_.map(_.getLong(0)).sorted.toSeq)
    assert(got === Some(1L to 5L))
    assert(probe(5L * perRow - 1L, five).isEmpty)
    // a zero budget still admits an empty input
    assert(probe(0L, five.limit(0)).map(_.length) === Some(0))
    // the counter sees the probe's job at a positive bound …
    val (_, probeJobs) = jobsOf(probe(perRow, five))
    assert(probeJobs >= 1, "listener missed the probe job; the zero-job check would be vacuous")
    // … and none at a negative one
    val (out, jobs) = jobsOf(probe(-1L, five))
    assert(out.isEmpty)
    assert(jobs === 0, s"a negative budget ran $jobs job(s)")
  }

  test("charges within one switch add up against its bound") {
    val perRow = DriverBound.rowBytes(five.schema)
    DriverBound.withBudget("spec" -> (7L * perRow)) {
      DriverBound("spec", spark) { sw =>
        assert(sw.fits(2L, 2L * perRow))
        // five rows fit what is left exactly …
        assert(sw.collect(five, perRow).map(_.length) === Some(5))
        // … and nothing more does
        assert(!sw.fits(1L, 1L))
      }
      // a new switch starts from nothing
      DriverBound("spec", spark) { sw => assert(sw.collect(five, perRow).isDefined) }
    }
    // the budget read when no override names the switch
    DriverBound("spec", spark)(sw => assert(sw.bound === DriverBound.budget(spark)))
  }

  test("every switch labels its jobs with its path both ways and restores the description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val Decision =
      """(\S+): path=(driver|distributed) rows(?:=|>=|~)\d+ bytes=\d+ bound=-?\d+ B""".r
    val Probe = """(\S+): probe (?:rows<=\d+ )?bound=-?\d+ B""".r
    /** The labels `op`'s jobs carried while `run` ran at `budget`. */
    def labelsOf(op: String, budget: Long)(run: => Any): Seq[String] = {
      seen.clear()
      DriverBound.withBudget(op -> budget)(run)
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        s"$op at $budget left the description changed")
      Thread.sleep(500) // let queued listener events drain
      seen.toArray.map(_.toString).filter(_.startsWith(s"$op: ")).toSeq
    }
    def paths(labels: Seq[String]): Set[String] = labels.collect { case Decision(_, p) => p }.toSet

    // repartitioned inputs: a local relation would collect without a job
    val docs = Seq((0L, "banana bandana ana banana"), (1L, "cabana banana bandana"))
      .toDF("doc_id", "text").repartition(2)
    val vecs = (0 until 12).map { i =>
      val th = math.toRadians(10.0 * i)
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding").repartition(2)
    val edges = (0 until 11).map(i => (i.toLong, i + 1L)).toDF("qid", "bid").repartition(2)
    val baskets = Seq((1L, Seq("a", "b")), (2L, Seq("a", "c")), (3L, Seq("a", "b")))
      .toDF("receipt_number", "items").repartition(2)
    val ranked = (1L to 30L).map(i => (i, i % 7)).toDF("id", "key").repartition(3)
    // (switch, its run, whether its driver path runs a job of its own)
    val switches: Seq[(String, () => Any, Boolean)] = Seq(
      ("GlobalRank", () => GlobalRank.withGlobalRank(ranked, "rk", col("key"), col("id")), true),
      ("Components", () => Components.connectedComponents(vecs.select(col("vec_id")), "vec_id",
        edges, "qid", "bid").collect(), false),
      ("SuffixArray.bigram", () => SuffixArray.build(docs, "doc_id", "text").collect(), true),
      ("SuffixArray.rank", () => SuffixArray.build(docs, "doc_id", "text").collect(), true),
      ("SuffixArray.removeDuplicatedSpans",
        () => SuffixArray.removeDuplicatedSpans(docs, "doc_id", "text", 6L).collect(), true),
      ("Ann.beamSearchKnn", () => Ann.beamSearchKnn(edges, vecs, vecs.filter(col("vec_id") < 2L),
        "vec_id", "embedding", Seq(11L).toDF("bid").repartition(1),
        beamWidth = 3, hops = 4, k = 2).collect(), true),
      ("MarketBasket.histogram",
        () => MarketBasket.rulesFromBaskets(baskets, 0.1, 0.5).collect(), false))
    sc.addSparkListener(listener)
    sc.setJobDescription("outer")
    try {
      for ((op, run, driverJobs) <- switches) {
        val onDriver = labelsOf(op, Long.MaxValue)(run())
        val spread = labelsOf(op, -1L)(run())
        for (l <- onDriver ++ spread)
          assert(Decision.matches(l) || Probe.matches(l), s"$op: malformed label '$l'")
        assert(onDriver.exists(Probe.matches), s"$op: the driver run shows no probe: $onDriver")
        assert(!paths(onDriver).contains("distributed"), s"$op: $onDriver")
        if (driverJobs) assert(paths(onDriver) === Set("driver"), s"$op: $onDriver")
        assert(paths(spread) === Set("distributed"), s"$op: $spread")
      }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
