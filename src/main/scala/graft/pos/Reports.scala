package graft.pos

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import graft.operators.Scans

/** K8 — Markdown report sinks (reference `monthly_report.py:514-627`,
  * `cumulative_report.py:597-703`).
  *
  * Each report is one Spark action and a driver finish, as in the
  * reference (one Athena query, then Pandas). One query reads the lake
  * slice the report needs and projects it to the columns the report
  * reads. Every row-level expression stays in that projection:
  * partition pruning, the V1 window, [[Transform.cleanForReporting]]'s
  * drops and fills, and `date_format` / `to_date` / `weekday` in the
  * session time zone. [[Scans.collectAtMost]] collects the slice when
  * its rows times [[Scans.rowBytes]] fit [[Scans.driverBudget]]; one
  * pass over the rows on the driver then computes every relation the
  * report (and the monthly charts) show.
  *
  * A slice over the budget takes the distributed path, needed at lake
  * scale: one Spark aggregate per relation, only the small results
  * collected. Both paths render through the same templates. A report's
  * jobs carry the description `Reports.<report>: path=… rows=… bytes=…
  * bound=… B` (its probe job `Reports.<report>: probe …`), and the
  * caller's description is restored afterwards.
  */
object Reports {

  private def money(x: Double): String = f"$$$x%,.2f"

  private def pctChange(cur: Double, prev: Option[Double]): String =
    prev match {
      case Some(p) if p > 0 => f"${(cur - p) / p * 100}%+.1f%%"
      case _ => "(new)" // reference `monthly_report.py:548-551`
    }

  /** The rows of `slice` when `rows × rowBytes(schema)` fits `budget`,
    * from one [[Scans.collectAtMost]] probe of `budget / rowBytes` rows
    * (no size job). Labels the probe, then the path it decides.
    */
  private def collectWithin(op: String, slice: DataFrame, budget: Long,
                            label: String => Unit): Option[Array[Row]] = {
    val width = Scans.rowBytes(slice.schema)
    val maxRows = math.max(budget, 0L) / width
    label(s"$op: probe rows<=$maxRows bound=$budget B")
    val rows = Scans.collectAtMost(slice, maxRows)
    label(rows match {
      case Some(r) => s"$op: path=driver rows=${r.length} bytes=${r.length * width} bound=$budget B"
      case None => s"$op: path=distributed rows>$maxRows bytes>${maxRows * width} bound=$budget B"
    })
    rows
  }

  /** Spark's `orderBy(count.desc, name)` for (name, count) pairs: count
    * descending, then name ascending with nulls first, names compared
    * as UTF-8 bytes (code points — not `String.compareTo`'s UTF-16 units).
    */
  private val byCountThenName: Ordering[(Option[String], Long)] =
    new Ordering[(Option[String], Long)] {
      def compare(x: (Option[String], Long), y: (Option[String], Long)): Int =
        if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
        else (x._1, y._1) match {
          case (Some(a), Some(b)) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
          case (a, b) => java.lang.Boolean.compare(a.isDefined, b.isDefined)
        }
    }

  private def topN(counts: collection.Map[Option[String], Long], n: Int): Seq[(String, Long)] =
    counts.toSeq.sorted(byCountThenName).take(n).map { case (k, c) => (k.orNull, c) }

  /** The item names [[ComboExplode.explodeComboItems]] turns one cleaned
    * line into: itself, or a combo's parsed items (none when its
    * modifiers are null or nothing parses).
    */
  private def explodedNames(item: String, modifiers: String): Seq[String] =
    if (!ComboExplode.isCombo(item)) Seq(item)
    else if (modifiers == null) Nil
    else ComboExplode.parseCombo(modifiers).map(_.itemName)

  /** Revenue (sum of the non-null `total_money`) and distinct receipts. */
  private final class Totals {
    var revenue: Option[Double] = None
    val receipts = mutable.HashSet.empty[String]
    def add(receipt: String, totalMoney: Option[Double]): Unit = {
      receipts += receipt
      totalMoney.foreach(m => revenue = Some(revenue.fold(m)(_ + m)))
    }
  }

  private def doubleAt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Monthly two-month comparison report. Reads the lake WITH the V1
    * dedup window (S8 asymmetry: monthly deduped, cumulative raw —
    * SURVEY §7.4.6).
    */
  def monthly(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): String =
    monthlyWithin(spark, lakeRoot, reportMonth, comparisonMonth, None,
      Scans.driverBudget(spark))._1

  /** [[monthly]] plus its K10 charts written to `chartDir`: on the
    * driver path both come from the one lake read.
    */
  private[pos] def monthlyWithCharts(spark: SparkSession, lakeRoot: String,
      reportMonth: String, comparisonMonth: String, chartDir: String): String =
    monthlyWithin(spark, lakeRoot, reportMonth, comparisonMonth, Some(chartDir),
      Scans.driverBudget(spark))._1

  /** [[monthlyWithCharts]] against an explicit byte `budget` — the seam
    * specs use to force either path. Returns the markdown and the path
    * (`"driver"` or `"distributed"`).
    */
  private[pos] def monthlyWithin(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String, chartDir: Option[String], budget: Long): (String, String) =
    Scans.labelled(spark) { label =>
      val slice = monthlySlice(spark, lakeRoot, reportMonth, comparisonMonth)
      collectWithin("Reports.monthly", slice, budget, label) match {
        case Some(rows) =>
          (monthlyOnDriver(rows, reportMonth, comparisonMonth, chartDir), "driver")
        case None =>
          val md = monthlyDistributed(spark, lakeRoot, reportMonth, comparisonMonth)
          chartDir.foreach(Charts.writeMonthlyCharts(spark, lakeRoot, reportMonth, _))
          (md, "distributed")
      }
    }

  /** The monthly report's one query: the two months' partitions, ranked
    * by the V1 window twice. Over both months it is the report's dedup
    * ([[Analytics.twoMonthDedupRead]]); within each month it is the
    * charts' ([[Charts.writeMonthlyCharts]]), which differs when the
    * comparison month is the later one: a key in both months keeps its
    * report-month row for the charts only. Both windows share one
    * exchange. `report` marks the deduped rows [[Transform.cleanForReporting]]
    * keeps, `chart` the report month's deduped rows; rows neither reader
    * keeps are dropped.
    */
  private[pos] def monthlySlice(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): DataFrame = {
    def newest(within: Column*): Column = row_number().over(
      Window.partitionBy(col("receipt_number") +: col("item_name") +: within: _*)
        .orderBy(col("shifted_time").desc)) === 1
    Lake.read(spark, lakeRoot)
      .filter(Analytics.inMonth(reportMonth) || Analytics.inMonth(comparisonMonth))
      .select(
        (newest() && Transform.reportingKept).as("report"),
        (newest(col("year"), col("month")) && Analytics.inMonth(reportMonth)).as("chart"),
        date_format(col("shifted_time"), "yyyy-MM").as("ym"),
        col("receipt_number"),
        col("item_name"),
        col("modifiers"),
        col("total_money"),
        col("price"),
        unix_date(to_date(col("shifted_time"))).as("day"))
      .filter(col("report") || col("chart"))
  }

  /** The monthly report and its chart series from [[monthlySlice]]'s rows. */
  private def monthlyOnDriver(rows: Array[Row], reportMonth: String, comparisonMonth: String,
      chartDir: Option[String]): String = {
    val cur = new Totals
    val prev = new Totals
    val sold = mutable.HashMap.empty[Option[String], Long]
    val chartItems = mutable.HashMap.empty[Option[String], Long]
    val dayRevenue = mutable.HashMap.empty[Option[Int], Option[Double]]
    rows.foreach { r =>
      if (r.getBoolean(0)) {
        val ym = r.getString(2)
        val receipt = r.getString(3)
        val total = doubleAt(r, 6)
        if (ym == comparisonMonth) prev.add(receipt, total)
        if (ym == reportMonth) {
          cur.add(receipt, total)
          val item = Option(r.getString(4)).getOrElse("Unknown")
          explodedNames(item, r.getString(5)).foreach { n =>
            sold(Some(n)) = sold.getOrElse(Some(n), 0L) + 1L
          }
        }
      }
      if (r.getBoolean(1)) {
        val item = Option(r.getString(4))
        chartItems(item) = chartItems.getOrElse(item, 0L) + 1L
        val day = if (r.isNullAt(8)) None else Some(r.getInt(8))
        val price = doubleAt(r, 7)
        dayRevenue(day) = (dayRevenue.getOrElse(day, None) ++ price).reduceOption(_ + _)
      }
    }
    chartDir.foreach { dir =>
      Charts.writeMonthly(reportMonth, dir,
        topN(chartItems, Charts.TopItems).map { case (n, c) => n -> c.toDouble },
        dayRevenue.toSeq.sortBy(_._1).map(_._2.getOrElse(0.0)))
    }
    monthlyMarkdown(reportMonth, comparisonMonth,
      cur.revenue.getOrElse(0.0), cur.receipts.size.toLong,
      prev.revenue.getOrElse(0.0), prev.receipts.size.toLong, topN(sold, 5))
  }

  /** The distributed monthly report: the deduped slice cached, one KPI
    * job per month and a top-products job.
    */
  private def monthlyDistributed(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): String = {
    val deduped = Analytics.twoMonthDedupRead(
      Lake.read(spark, lakeRoot), reportMonth, comparisonMonth)
    val cleaned = Transform.cleanForReporting(deduped).cache()
    try {
      val exploded = ComboExplode.explodeComboItems(cleaned)
      val monthCol = date_format(col("shifted_time"), "yyyy-MM")

      def kpis(month: String): (Double, Long) = {
        val r = cleaned.filter(monthCol === month)
          .agg(sum(col("total_money")), countDistinct(col("receipt_number")))
          .collect().head
        (Option(r.get(0)).fold(0.0)(_.toString.toDouble), r.getLong(1))
      }
      val (curRev, curN) = kpis(reportMonth)
      val (prevRev, prevN) = kpis(comparisonMonth)

      val top = Analytics.topProducts(exploded.filter(monthCol === reportMonth), 5).collect()
        .map(r => (r.getAs[String]("item_name"), r.getAs[Long]("items_sold"))).toSeq
      monthlyMarkdown(reportMonth, comparisonMonth, curRev, curN, prevRev, prevN, top)
    } finally cleaned.unpersist()
  }

  private def monthlyMarkdown(reportMonth: String, comparisonMonth: String,
      curRev: Double, curN: Long, prevRev: Double, prevN: Long,
      top: Seq[(String, Long)]): String = {
    val sb = new StringBuilder
    sb ++= s"# Monthly Report — $reportMonth\n\n"
    sb ++= s"## KPIs (vs $comparisonMonth)\n\n"
    sb ++= "| metric | value | change |\n|---|---|---|\n"
    sb ++= s"| Revenue | ${money(curRev)} | ${pctChange(curRev, Some(prevRev).filter(_ > 0))} |\n"
    sb ++= s"| Receipts | $curN | ${pctChange(curN.toDouble, Some(prevN.toDouble).filter(_ > 0))} |\n"
    sb ++= s"| Avg receipt | ${money(if (curN > 0) curRev / curN else 0)} | |\n\n"
    sb ++= "## Top 5 products\n\n| item | sold |\n|---|---|\n"
    top.foreach { case (item, n) => sb ++= s"| $item | $n |\n" }
    sb.result()
  }

  /** Cumulative all-history report. Reads the lake RAW — duplicates
    * included, matching the reference's S7 full scan.
    */
  def cumulative(spark: SparkSession, lakeRoot: String): String =
    cumulativeWithin(spark, lakeRoot, Scans.driverBudget(spark))._1

  /** [[cumulative]] against an explicit byte `budget`; returns the
    * markdown and the path taken.
    */
  private[pos] def cumulativeWithin(spark: SparkSession, lakeRoot: String,
      budget: Long): (String, String) =
    Scans.labelled(spark) { label =>
      collectWithin("Reports.cumulative", cumulativeSlice(spark, lakeRoot), budget, label) match {
        case Some(rows) => (cumulativeOnDriver(spark, rows), "driver")
        case None => (cumulativeDistributed(spark, lakeRoot), "distributed")
      }
    }

  /** The cumulative report's one query: the cleaned lake, projected to
    * the columns the report reads; `at` (epoch micros), `day`, `ym` and
    * `weekend` are null where `shifted_time` is.
    */
  private[pos] def cumulativeSlice(spark: SparkSession, lakeRoot: String): DataFrame =
    Transform.cleanForReporting(Lake.read(spark, lakeRoot)).select(
      col("receipt_number"),
      col("item_name"),
      col("modifiers"),
      col("total_money"),
      col("price"),
      unix_micros(col("shifted_time")).as("at"),
      date_format(col("shifted_time"), "yyyy-MM-dd").as("day"),
      date_format(col("shifted_time"), "yyyy-MM").as("ym"),
      (weekday(col("shifted_time")) >= 4).as("weekend"))

  private final case class CumulativeKpis(revenue: Double, receipts: Long, avgReceipt: Double,
      avgMonthly: Double, firstDay: String, lastDay: String)

  /** The cumulative report from [[cumulativeSlice]]'s rows. The KPIs and
    * the weekday split read the rows with a `shifted_time`
    * ([[Analytics.cumulativeKpis]], [[Analytics.weekdayVsWeekend]]); the
    * top products and the basket histogram read every row.
    */
  private def cumulativeOnDriver(spark: SparkSession, rows: Array[Row]): String = {
    val all = new Totals
    val months = mutable.HashMap.empty[String, Option[Double]]
    val split = mutable.HashMap.empty[Boolean, (Double, mutable.HashSet[String])]
    var first: Option[(Long, String)] = None
    var last: Option[(Long, String)] = None
    val sold = mutable.HashMap.empty[Option[String], Long]
    val baskets = mutable.HashMap.empty[String, Set[String]]
    rows.foreach { r =>
      val receipt = r.getString(0)
      val item = r.getString(1)
      explodedNames(item, r.getString(2)).foreach { n =>
        sold(Some(n)) = sold.getOrElse(Some(n), 0L) + 1L
      }
      baskets(receipt) = baskets.getOrElse(receipt, Set.empty[String]) + item
      if (!r.isNullAt(5)) {
        val total = doubleAt(r, 3)
        all.add(receipt, total)
        val ym = r.getString(7)
        months(ym) = (months.getOrElse(ym, None) ++ total).reduceOption(_ + _)
        val at = (r.getLong(5), r.getString(6))
        if (first.forall(at._1 < _._1)) first = Some(at)
        if (last.forall(at._1 > _._1)) last = Some(at)
        val (rev, receipts) = split.getOrElse(r.getBoolean(8), (0.0, mutable.HashSet.empty[String]))
        split(r.getBoolean(8)) = (rev + r.getDouble(4), receipts += receipt)
      }
    }
    val n = all.receipts.size.toLong
    val monthRevenues = months.values.flatten.toSeq
    val kpis = CumulativeKpis(
      revenue = all.revenue.getOrElse(0.0),
      receipts = n,
      avgReceipt = if (n > 0) all.revenue.fold(0.0)(_ / n) else 0.0,
      avgMonthly = if (monthRevenues.isEmpty) 0.0 else monthRevenues.sum / monthRevenues.size,
      firstDay = first.map(_._2).orNull,
      lastDay = last.map(_._2).orNull)
    val weekdays = split.toSeq.sortBy(_._1).map { case (weekend, (rev, receipts)) =>
      (if (weekend) "Weekend" else "Weekday", rev, receipts.size.toLong, rev / receipts.size)
    }
    val hist = baskets.values.groupBy(identity).iterator
      .map { case (set, same) => (set.toSeq, same.size.toLong) }.toArray
    val rules =
      if (hist.isEmpty) Array.empty[Row]
      else MarketBasket.byLift(MarketBasket.histogramRules(spark, hist,
          MarketBasket.DefaultMinSupport, MarketBasket.DefaultMinLift).getOrElse {
        // an item domain too wide for one bitmask: FP-Growth on the baskets
        import spark.implicits._
        MarketBasket.rulesFromBaskets(hist.toSeq.flatMap { case (set, k) => Seq.fill(k.toInt)(set) }
          .toDF("items"), MarketBasket.DefaultMinSupport, MarketBasket.DefaultMinLift)
      }).limit(5).collect()
    cumulativeMarkdown(kpis, weekdays, topN(sold, 5), rules)
  }

  /** The distributed cumulative report: the cleaned lake cached, four
    * relations collected from it.
    */
  private def cumulativeDistributed(spark: SparkSession, lakeRoot: String): String = {
    val cleaned = Transform.cleanForReporting(Lake.read(spark, lakeRoot)).cache()
    try {
      val exploded = ComboExplode.explodeComboItems(cleaned)
      val k = Analytics.cumulativeKpis(cleaned).collect().head
      val top = Analytics.topProducts(exploded, 5).collect()
        .map(r => (r.getAs[String]("item_name"), r.getAs[Long]("items_sold"))).toSeq
      val ww = Analytics.weekdayVsWeekend(cleaned).collect().map { r =>
        (r.getAs[String]("period_type"), r.getAs[Double]("total_revenue"),
          r.getAs[Long]("total_receipts"), r.getAs[Double]("avg_sale_per_receipt"))
      }.toSeq
      val rules = MarketBasket.rules(cleaned).limit(5).collect()
      cumulativeMarkdown(
        CumulativeKpis(k.getAs[Double]("total_revenue"), k.getAs[Long]("total_receipts"),
          k.getAs[Double]("average_receipt_value"), k.getAs[Double]("average_monthly_revenue"),
          k.getAs[String]("first_sale_date"), k.getAs[String]("last_sale_date")),
        ww, top, rules)
    } finally cleaned.unpersist()
  }

  private def cumulativeMarkdown(k: CumulativeKpis, ww: Seq[(String, Double, Long, Double)],
      top: Seq[(String, Long)], rules: Array[Row]): String = {
    val sb = new StringBuilder
    sb ++= "# Cumulative Report\n\n## KPIs\n\n| metric | value |\n|---|---|\n"
    sb ++= s"| Total Revenue | ${money(k.revenue)} |\n"
    sb ++= s"| Total Unique Receipts | ${k.receipts} |\n"
    sb ++= s"| Average Receipt Value | ${money(k.avgReceipt)} |\n"
    sb ++= s"| Average Monthly Revenue | ${money(k.avgMonthly)} |\n"
    sb ++= s"| First Sale Date | ${k.firstDay} |\n"
    sb ++= s"| Last Sale Date | ${k.lastDay} |\n\n"
    sb ++= "## Weekday vs Weekend\n\n| period | revenue | receipts | avg/receipt |\n|---|---|---|---|\n"
    ww.foreach { case (period, revenue, receipts, avg) =>
      sb ++= s"| $period | ${money(revenue)} | $receipts | ${money(avg)} |\n"
    }
    sb ++= "\n## Top 5 products\n\n| item | sold |\n|---|---|\n"
    top.foreach { case (item, n) => sb ++= s"| $item | $n |\n" }
    sb ++= "\n## Top association rules\n\n| antecedents | consequents | confidence | lift |\n|---|---|---|---|\n"
    rules.foreach { r =>
      sb ++= s"| ${r.getAs[Seq[String]]("antecedents").mkString(", ")} | " +
        s"${r.getAs[Seq[String]]("consequents").mkString(", ")} | " +
        f"${r.getAs[Double]("confidence")}%.2f | ${r.getAs[Double]("lift")}%.2f |\n"
    }
    sb.result()
  }
}
