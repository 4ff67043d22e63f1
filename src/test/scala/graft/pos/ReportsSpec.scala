package graft.pos

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import scala.jdk.CollectionConverters._

/** K8/K10 — the monthly and cumulative reports: one query, partition
  * summaries merged on the driver. The fixtures' markdown and chart
  * bytes are pinned to the output of the row-collecting reports this
  * path replaced.
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

  /** A fresh fixture lake: a full write, then r1's lines replayed twice. */
  private def fixtureLake(name: String): String = {
    val root = Files.createTempDirectory(name).resolve("lake").toString
    Lake.writeFull(frame(july ++ others), root)
    Lake.appendIncrement(frame(july.take(2)), root)
    Lake.appendIncrement(frame(july.take(2)), root)
    root
  }

  private lazy val lake: String = fixtureLake("reports_lake")

  private def sha256(bytes: Seq[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes.toArray)
      .map(b => f"${b & 0xff}%02x").mkString

  private def bytesIn(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(p =>
      p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  /** Monthly markdown and the chart files written beside it. */
  private def monthlyAt(root: String, rm: String, cm: String): (String, Map[String, Seq[Byte]]) = {
    val dir = Files.createTempDirectory("reports_charts")
    val md = Reports.monthlyWithCharts(spark, root, rm, cm, dir.toString)
    (md, bytesIn(dir))
  }

  private def md(lines: String*): String = lines.mkString("", "\n", "\n")

  // The fixtures' reports as the row-collecting reports wrote them.
  private val MonthlyBefore = md(
    "# Monthly Report — 2025-07",
    "",
    "## KPIs (vs 2025-06)",
    "",
    "| metric | value | change |",
    "|---|---|---|",
    "| Revenue | $1,101.50 | +450.8% |",
    "| Receipts | 10 | +400.0% |",
    "| Avg receipt | $110.15 | |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|",
    "| Burger | 4 |",
    "| Fries | 3 |",
    "| Coca Cola | 2 |",
    "| Smash Burger | 2 |",
    "| Ａpple Pie | 2 |")

  private val MonthlyAfter = md(
    "# Monthly Report — 2025-07",
    "",
    "## KPIs (vs 2025-08)",
    "",
    "| metric | value | change |",
    "|---|---|---|",
    "| Revenue | $1,100.75 | +780.6% |",
    "| Receipts | 9 | +350.0% |",
    "| Avg receipt | $122.31 | |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|",
    "| Burger | 4 |",
    "| Coca Cola | 2 |",
    "| Fries | 2 |",
    "| Smash Burger | 2 |",
    "| Ａpple Pie | 2 |")

  private val Cumulative = md(
    "# Cumulative Report",
    "",
    "## KPIs",
    "",
    "| metric | value |",
    "|---|---|",
    "| Total Revenue | $1,786.50 |",
    "| Total Unique Receipts | 13 |",
    "| Average Receipt Value | $137.42 |",
    "| Average Monthly Revenue | $595.50 |",
    "| First Sale Date | 2025-06-20 |",
    "| Last Sale Date | 2025-08-03 |",
    "",
    "## Weekday vs Weekend",
    "",
    "| period | revenue | receipts | avg/receipt |",
    "|---|---|---|---|",
    "| Weekday | $1,165.00 | 7 | $166.43 |",
    "| Weekend | $665.75 | 8 | $83.22 |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|",
    "| Burger | 9 |",
    "| Fries | 7 |",
    "| Coca Cola | 3 |",
    "| Smash Burger | 3 |",
    "| Ａpple Pie | 2 |",
    "",
    "## Top association rules",
    "",
    "| antecedents | consequents | confidence | lift |",
    "|---|---|---|---|",
    "| Combo Clásico, Ａpple Pie | 😀 Shake | 1.00 | 7.00 |",
    "| Combo Clásico, 😀 Shake | Ａpple Pie | 1.00 | 7.00 |",
    "| Ａpple Pie | 😀 Shake | 1.00 | 7.00 |",
    "| 😀 Shake | Ａpple Pie | 1.00 | 7.00 |",
    "| Combo Raro | Fries | 1.00 | 3.50 |")

  private val CumulativeWide = md(
    "# Cumulative Report",
    "",
    "## KPIs",
    "",
    "| metric | value |",
    "|---|---|",
    "| Total Revenue | $500.00 |",
    "| Total Unique Receipts | 25 |",
    "| Average Receipt Value | $20.00 |",
    "| Average Monthly Revenue | $500.00 |",
    "| First Sale Date | 2025-07-01 |",
    "| Last Sale Date | 2025-07-25 |",
    "",
    "## Weekday vs Weekend",
    "",
    "| period | revenue | receipts | avg/receipt |",
    "|---|---|---|---|",
    "| Weekday | $300.00 | 15 | $20.00 |",
    "| Weekend | $200.00 | 10 | $20.00 |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|",
    "| item0 | 1 |",
    "| item1 | 1 |",
    "| item10 | 1 |",
    "| item11 | 1 |",
    "| item12 | 1 |",
    "",
    "## Top association rules",
    "",
    "| antecedents | consequents | confidence | lift |",
    "|---|---|---|---|",
    "| item0 | item1 | 1.00 | 25.00 |",
    "| item1 | item0 | 1.00 | 25.00 |",
    "| item10 | item11 | 1.00 | 25.00 |",
    "| item11 | item10 | 1.00 | 25.00 |",
    "| item12 | item13 | 1.00 | 25.00 |")

  private val MonthlyEmptyLake = md(
    "# Monthly Report — 2025-07",
    "",
    "## KPIs (vs 2025-06)",
    "",
    "| metric | value | change |",
    "|---|---|---|",
    "| Revenue | $0.00 | (new) |",
    "| Receipts | 0 | (new) |",
    "| Avg receipt | $0.00 | |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|")

  private val CumulativeEmptyLake = md(
    "# Cumulative Report",
    "",
    "## KPIs",
    "",
    "| metric | value |",
    "|---|---|",
    "| Total Revenue | $0.00 |",
    "| Total Unique Receipts | 0 |",
    "| Average Receipt Value | $0.00 |",
    "| Average Monthly Revenue | $0.00 |",
    "| First Sale Date | null |",
    "| Last Sale Date | null |",
    "",
    "## Weekday vs Weekend",
    "",
    "| period | revenue | receipts | avg/receipt |",
    "|---|---|---|---|",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|",
    "",
    "## Top association rules",
    "",
    "| antecedents | consequents | confidence | lift |",
    "|---|---|---|---|")

  private val MonthlyEmptyMonth = md(
    "# Monthly Report — 2025-09",
    "",
    "## KPIs (vs 2025-08)",
    "",
    "| metric | value | change |",
    "|---|---|---|",
    "| Revenue | $0.00 | -100.0% |",
    "| Receipts | 0 | -100.0% |",
    "| Avg receipt | $0.00 | |",
    "",
    "## Top 5 products",
    "",
    "| item | sold |",
    "|---|---|")

  private val FixtureCharts = Map(
    "daily_revenue_2025-07.png" -> "eaa8e20a9d1da3874269029ec55279f0f88c9d4573a8d03f4d27f4316d38d5b1",
    "top_products_2025-07.png" -> "fec5fc593c77b715d6a81ec4c72a19c105b8f300ddd7c88af9447fea431890e7")
  /** Either chart of a month without rows: the axes alone. */
  private val EmptyChart = "538624c3c237b85af37955d71ee2f1e419267a5f22bd5dabc5ef8ee1df38f359"

  private def assertPinned(got: (String, Map[String, Seq[Byte]]), md: String,
                           charts: Map[String, String]): Unit = {
    assert(got._1 === md)
    assert(got._2.map { case (name, bytes) => name -> sha256(bytes) } === charts)
  }

  test("monthly report: pinned markdown and charts, comparison month before or after") {
    val (before, chartsBefore) = monthlyAt(lake, "2025-07", "2025-06")
    val (after, chartsAfter) = monthlyAt(lake, "2025-07", "2025-08")
    assertPinned((before, chartsBefore), MonthlyBefore, FixtureCharts)
    assertPinned((after, chartsAfter), MonthlyAfter, FixtureCharts)
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

  test("cumulative report: markdown keeps its pinned bytes") {
    val md = Reports.cumulative(spark, lake)
    assert(md === Cumulative)
    assert(md.contains("| First Sale Date | 2025-06-20 |") && md.contains("| Weekend |"))
    // A→B and B→A tie on lift, and five tied rules compete for the top
    // rows: names break the tie, so every run agrees
    val rules = md.split("## Top association rules")(1).linesIterator.count(_.startsWith("| ") ) - 1
    assert(rules === 5)
  }

  test("cumulative report: a domain too wide for one bitmask keeps its pinned bytes") {
    val wide = Files.createTempDirectory("reports_wide").resolve("lake").toString
    Lake.writeFull(frame((0 until 25).flatMap(r => Seq(2 * r, 2 * r + 1).map(i =>
      line(s"w$r", f"2025-07-${r + 1}%02d 10:00:00", s"item$i", 10.0)))), wide)
    val md = Reports.cumulative(spark, wide)
    assert(md === CumulativeWide)
    assert(md.contains("| item0 | item1 | 1.00 | 25.00 |"), md)
  }

  test("cumulative report: one 30-item receipt stops at MarketBasket's named bound") {
    // Under 100 baskets every basket is frequent at the 1 % support, so
    // each of the receipt's 2^30 item subsets is a frequent itemset.
    val wide = Files.createTempDirectory("reports_basket").resolve("lake").toString
    Lake.writeFull(frame(july ++ others ++ (0 until 30).map(i =>
      line("r50", "2025-07-11 10:00:00", s"dish$i", 5.0))), wide)
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException](Reports.cumulative(spark, wide))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage.contains("MarketBasket") && ex.getMessage.contains("level") &&
      ex.getMessage.contains((1 << 20).toString), ex.getMessage)
    assert(secs < 60, s"took $secs s")
  }

  test("empty lake and empty report month keep their pinned bytes") {
    val empty = Files.createTempDirectory("reports_empty").resolve("lake").toString
    Lake.writeFull(frame(Seq.empty), empty)
    val (md, charts) = monthlyAt(empty, "2025-07", "2025-06")
    assertPinned((md, charts), MonthlyEmptyLake,
      Map("daily_revenue_2025-07.png" -> EmptyChart, "top_products_2025-07.png" -> EmptyChart))
    assert(md.contains("| Receipts | 0 | (new) |"))
    assert(Reports.cumulative(spark, empty) === CumulativeEmptyLake)
    val (md9, charts9) = monthlyAt(lake, "2025-09", "2025-08")
    assertPinned((md9, charts9), MonthlyEmptyMonth,
      Map("daily_revenue_2025-09.png" -> EmptyChart, "top_products_2025-09.png" -> EmptyChart))
    assert(md9.contains("| Revenue | $0.00 |"))
    // an empty month draws the same axes as an empty lake
    assert(charts.values.toSet == charts9.values.toSet)
  }

  test("monthly report: money is summed exactly before it is divided") {
    // ten $0.10 lines over eight receipts: summed as doubles they make
    // 0.9999999999999999, and the average would print $0.12
    val root = Files.createTempDirectory("reports_cents").resolve("lake").toString
    Lake.writeFull(frame((1 to 8).map(r => line(s"c$r", "2025-07-01 10:00:00", "Tea", 0.1)) ++
      (1 to 2).map(r => line(s"c$r", "2025-07-01 10:00:00", "Coffee", 0.1))), root)
    val md = Reports.monthly(spark, root, "2025-07", "2025-06")
    assert(md.contains("| Revenue | $1.00 |") && md.contains("| Avg receipt | $0.13 |"), md)
  }

  test("both reports print the same bytes at 1, 4 and 7 shuffle partitions") {
    // the fixture, one hot receipt with most of August's lines (ten
    // items, each written three times), and prices whose double sums
    // depend on their order
    val root = Files.createTempDirectory("reports_hot").resolve("lake").toString
    Lake.writeFull(frame(july ++ others ++
      (0 until 30).map(i => line("hot", s"2025-08-05 12:0${i / 10}:00", s"Hot ${i % 10}",
        0.1 * (i % 7 + 1))) ++
      (0 until 20).map(i => line(s"d$i", f"2025-07-${i % 9 + 10}%02d 12:00:00", "Tea", 0.1 * (i % 3 + 1)))),
      root)
    Lake.appendIncrement(frame(july.take(2)), root)
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // a fixture-sized shuffle would otherwise be coalesced into one partition
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val runs = Seq(1, 4, 7).map { n =>
        conf.set("spark.sql.shuffle.partitions", n.toLong)
        val summaries = Reports.cumulativeSummaries(spark, root).collect()
        assert(summaries.length === n)
        assert(n == 1 || summaries.count(_.all.receipts > 0) > 1)
        (monthlyAt(root, "2025-08", "2025-07"), monthlyAt(root, "2025-07", "2025-06"),
          Reports.cumulative(spark, root))
      }
      assert(runs(0)._1._1.contains("| Receipts | 3 |"), runs(0)._1._1)
      runs.tail.foreach(run => assert(run == runs.head))
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("each report's query has exactly one shuffle exchange") {
    def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
      new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }.size
    val monthly = Reports.monthlySummaries(spark, lake, "2025-07", "2025-06")
    monthly.collect()
    assert(exchanges(monthly.queryExecution.executedPlan) === 1, monthly.queryExecution.executedPlan)
    val cumulative = Reports.cumulativeSummaries(spark, lake)
    cumulative.collect()
    assert(exchanges(cumulative.queryExecution.executedPlan) === 1,
      cumulative.queryExecution.executedPlan)
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
    val root = fixtureLake("reports_jobs") // written before the jobs are counted
    val dir = Files.createTempDirectory("reports_jobs_charts").toString
    def jobCounts(): (Int, Int) =
      try {
        sc.setJobDescription("outer")
        val monthly = jobsOf(Reports.monthlyWithCharts(spark, root, "2025-07", "2025-06", dir))
        assert(sc.getLocalProperty("spark.job.description") == "outer")
        assert(monthly.nonEmpty && monthly.size <= 2, monthly)
        assert(monthly.forall(_.startsWith("Reports.monthly: ")), monthly)
        val cumulative = jobsOf(Reports.cumulative(spark, root))
        assert(sc.getLocalProperty("spark.job.description") == "outer")
        assert(cumulative.nonEmpty && cumulative.size <= 3, cumulative)
        assert(cumulative.forall(_.startsWith("Reports.cumulative: ")), cumulative)
        assert(!(monthly ++ cumulative).exists(_.contains("probe")), monthly ++ cumulative)
        (monthly.size, cumulative.size)
      } finally sc.setJobDescription(null)
    val before = jobCounts()
    // three more small files: the job counts do not grow with the file count
    Seq(july.slice(2, 4), july.slice(4, 6), others.take(1)).foreach(rows =>
      Lake.appendIncrement(frame(rows).coalesce(1), root))
    assert(jobCounts() === before)
  }
}
