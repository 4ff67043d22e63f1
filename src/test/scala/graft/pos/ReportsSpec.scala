package graft.pos

import graft.SparkSpec
import graft.operators.Scans
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** K8/K10 — the monthly and cumulative reports take the driver path or
  * the distributed path and render the same bytes either way.
  */
class ReportsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = if (s == null) null else Timestamp.valueOf(s)

  /** One curated lake row; `datetime` and `shifted_time` both `at`
    * unless given apart.
    */
  private def line(receipt: String, at: String, item: String, price: java.lang.Double,
                   total: java.lang.Double = null, modifiers: String = null,
                   datetime: Option[String] = None): Row = {
    val shifted = ts(at)
    Row(receipt, datetime.fold(shifted)(ts), "2025-01-01", "00:00:00", "Mesa", item, 1.0, price,
      if (total == null) price else total, modifiers, "CASH", shifted, 0L, "00:00-01:00")
  }

  private def frame(rows: Seq[Row]) =
    spark.createDataFrame(rows.asJava, Schemas.curated)

  private val combo = "Hamburguesa(Smash doble);Refresco(Coca Cola 600ml);Mayonesa(Chipotle)"
  private val combo2 = "Hamburguesa(Smash sencilla);Refresco(Coca-Cola);Mayonesa(Natural)"
  // UTF-16 puts the emoji (D83D) first, UTF-8 and Spark the fullwidth A (EF BC A1)
  private val fullwidth = "Ａpple Pie"
  private val emoji = "😀 Shake"

  private val july = Seq(
    line("r1", "2025-07-01 10:00:00", "Burger", 100.0),
    line("r1", "2025-07-01 10:00:00", "Fries", 50.0),
    line("r2", "2025-07-02 11:00:00", "Burger", 80.0),
    line("r2", "2025-07-02 11:00:00", "Combo Clásico", 150.0, modifiers = combo),
    line("r3", "2025-07-03 12:00:00", "Burger", 90.0),
    line("r3", "2025-07-03 12:00:00", "Combo Sin Mods", 120.0), // combo, null modifiers
    line("r4", "2025-07-03 13:00:00", "Combo Raro", 110.0, modifiers = "Bebida(Agua)"),
    line("r4", "2025-07-03 13:00:00", "Fries", 50.0),
    line("r5", "2025-07-04 09:00:00", fullwidth, 30.0),
    line("r5", "2025-07-04 09:00:00", emoji, 30.0),
    line("r5", "2025-07-04 09:00:00", "Combo Clásico", 140.0, modifiers = combo2),
    line("r6", "2025-07-04 10:00:00", fullwidth, 30.5),
    line("r6", "2025-07-04 10:00:00", emoji, 30.25),
    line("r7", "2025-07-05 10:00:00", null, 20.0),
    line(null, "2025-07-05 11:00:00", "Burger", 10.0),
    line("r9", "2025-07-06 12:00:00", "Fries", 40.0, datetime = Some(null)),
    line("r12", "2025-07-07 08:00:00", "Tea", null), // the day's only line: null price
    line("r10", "2025-07-08 09:00:00", "Burger", 70.0), // also in June
    line("r11", "2025-07-09 09:00:00", "Fries", 45.0, total = 0.75)) // also in August
  private val others = Seq(
    line("r10", "2025-06-20 09:00:00", "Burger", 60.0),
    line("r20", "2025-06-21 09:00:00", "Fries", 50.0),
    line("r21", "2025-06-22 09:00:00", "Combo Clásico", 150.0, modifiers = combo),
    line("r11", "2025-08-02 09:00:00", "Fries", 55.0),
    line("r30", "2025-08-03 09:00:00", "Burger", 70.0),
    // a datetime but no shifted_time: lands outside every month partition
    line("r40", null, "Burger", 25.0, datetime = Some("2025-07-10 10:00:00")))

  /** The fixture lake: a full write, then r1's lines replayed twice. */
  private lazy val lake: String = {
    val root = Files.createTempDirectory("reports_lake").resolve("lake").toString
    Lake.writeFull(frame(july ++ others), root)
    Lake.appendIncrement(frame(july.take(2)), root)
    Lake.appendIncrement(frame(july.take(2)), root)
    root
  }

  private def bytesIn(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(p =>
      p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  /** Monthly markdown and chart files on one path (driver: an unbounded
    * budget; distributed: a negative one).
    */
  private def monthlyAt(root: String, rm: String, cm: String, budget: Long,
                        wantPath: String): (String, Map[String, Seq[Byte]]) = {
    val dir = Files.createTempDirectory("reports_charts")
    val (md, path) = Reports.monthlyWithin(spark, root, rm, cm, Some(dir.toString), budget)
    assert(path === wantPath)
    (md, bytesIn(dir))
  }

  private def cumulativeAt(root: String, budget: Long, wantPath: String): String = {
    val (md, path) = Reports.cumulativeWithin(spark, root, budget)
    assert(path === wantPath)
    md
  }

  private def assertPathsAgree(root: String, rm: String, cm: String): (String, Map[String, Seq[Byte]]) = {
    val onDriver = monthlyAt(root, rm, cm, Long.MaxValue, "driver")
    val distributed = monthlyAt(root, rm, cm, -1L, "distributed")
    assert(onDriver._1 === distributed._1)
    assert(onDriver._2.keySet === Set(s"top_products_$rm.png", s"daily_revenue_$rm.png"))
    onDriver._2.foreach { case (name, bytes) =>
      assert(bytes == distributed._2(name), s"$name differs between the paths")
    }
    onDriver
  }

  test("monthly report: driver path equals distributed path, comparison month before or after") {
    val (before, chartsBefore) = assertPathsAgree(lake, "2025-07", "2025-06")
    val (after, chartsAfter) = assertPathsAgree(lake, "2025-07", "2025-08")
    // the charts depend on the report month alone
    assert(chartsBefore == chartsAfter)
    // r11's Fries is newer in August: the report drops its July row
    assert(before.contains("| Receipts | 10 |") && after.contains("| Receipts | 9 |"), before + after)
    // the Fries row of r11 carries total 0.75, gone with the later comparison month
    assert(before.contains("| Revenue | $1,101.50 |") && after.contains("| Revenue | $1,100.75 |"),
      before + after)
    // the fifth product is the tie Spark's UTF-8 order breaks
    assert(before.contains(s"| $fullwidth | 2 |") && !before.contains(emoji))
    assert(after.contains(s"| $fullwidth | 2 |") && !after.contains(emoji))
    assert(before.contains("| Smash Burger | 2 |") && before.contains("| Coca Cola | 2 |"))
  }

  test("cumulative report: driver path equals distributed path") {
    val md = cumulativeAt(lake, Long.MaxValue, "driver")
    assert(md === cumulativeAt(lake, -1L, "distributed"))
    assert(md.contains("| First Sale Date | 2025-06-20 |") && md.contains("| Weekend |"))
    // A→B and B→A tie on lift, and five tied rules compete for the top
    // rows: names break the tie, so both paths (and every run) agree
    val rules = md.split("## Top association rules")(1).linesIterator.count(_.startsWith("| ") ) - 1
    assert(rules === 5)
  }

  test("cumulative report: an item domain too wide for one bitmask agrees on both paths") {
    val wide = Files.createTempDirectory("reports_wide").resolve("lake").toString
    Lake.writeFull(frame((0 until 25).flatMap(r => Seq(2 * r, 2 * r + 1).map(i =>
      line(s"w$r", f"2025-07-${r + 1}%02d 10:00:00", s"item$i", 10.0)))), wide)
    val md = cumulativeAt(wide, Long.MaxValue, "driver")
    assert(md === cumulativeAt(wide, -1L, "distributed"))
    assert(md.contains("| item0 | item1 | 1.00 | 25.00 |"), md)
  }

  test("empty lake and empty report month: both paths agree") {
    val empty = Files.createTempDirectory("reports_empty").resolve("lake").toString
    Lake.writeFull(frame(Seq.empty), empty)
    val (md, charts) = assertPathsAgree(empty, "2025-07", "2025-06")
    assert(md.contains("| Receipts | 0 | (new) |"))
    assert(cumulativeAt(empty, Long.MaxValue, "driver") === cumulativeAt(empty, -1L, "distributed"))
    val (md9, charts9) = assertPathsAgree(lake, "2025-09", "2025-08")
    assert(md9.contains("| Revenue | $0.00 |"))
    // an empty month draws the same axes as an empty lake
    assert(charts.values.toSet == charts9.values.toSet)
  }

  test("both reports switch paths exactly at the driver byte budget") {
    def footprint(slice: org.apache.spark.sql.DataFrame): Long =
      slice.count() * Scans.rowBytes(slice.schema)
    val monthly = footprint(Reports.monthlySlice(spark, lake, "2025-07", "2025-06"))
    val mdAt = monthlyAt(lake, "2025-07", "2025-06", monthly, "driver")
    assert(mdAt === monthlyAt(lake, "2025-07", "2025-06", monthly - 1, "distributed"))
    val cumulative = footprint(Reports.cumulativeSlice(spark, lake))
    assert(cumulativeAt(lake, cumulative, "driver") ===
      cumulativeAt(lake, cumulative - 1, "distributed"))
  }

  /** Descriptions of the jobs `body` starts, in order. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job is seen, all are
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(all.contains("marker"))
      all.takeWhile(_ != "marker")
    } finally sc.removeSparkListener(listener)
  }

  test("reports label their jobs, restore the description, and stay within their job counts") {
    val sc = spark.sparkContext
    lake // written before the jobs are counted
    val dir = Files.createTempDirectory("reports_jobs").toString
    try {
      sc.setJobDescription("outer")
      val monthly = jobsOf(Reports.monthlyWithCharts(spark, lake, "2025-07", "2025-06", dir))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      assert(monthly.nonEmpty && monthly.size <= 2, monthly)
      assert(monthly.forall(_.startsWith("Reports.monthly: probe rows<=")), monthly)
      sc.setJobDescription("outer")
      val cumulative = jobsOf(Reports.cumulative(spark, lake))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      assert(cumulative.nonEmpty && cumulative.size <= 3, cumulative)
      assert(cumulative.forall(_.startsWith("Reports.cumulative: ")), cumulative)
      assert(cumulative.exists(_.startsWith("Reports.cumulative: path=driver rows=")), cumulative)
      sc.setJobDescription("outer")
      val over = jobsOf(Reports.monthlyWithin(spark, lake, "2025-07", "2025-06", Some(dir), -1L))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      assert(over.nonEmpty && over.forall(
        _ == "Reports.monthly: path=distributed rows>0 bytes>0 bound=-1 B"), over)
    } finally sc.setJobDescription(null)
  }
}
