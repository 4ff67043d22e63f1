package graft.pos

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import graft.operators.Scans

/** K8 — Markdown report sinks (reference `monthly_report.py:514-627`,
  * `cumulative_report.py:597-703`).
  *
  * Each report is one Spark query and a driver finish, as in the
  * reference (one Athena query, then Pandas), on one path at any lake
  * size. The query reads the lake slice the report needs, hash
  * partitioned on `receipt_number`, and projects it to the columns the
  * report reads. Every row-level expression stays in that projection:
  * partition pruning, the V1 window (whose clustering the receipt
  * partitioning already satisfies, so the query has one exchange),
  * [[Transform.cleanForReporting]]'s drops and fills, and
  * `date_format` / `to_date` / `weekday` in the session time zone.
  *
  * Each partition then holds whole receipts, and one `mapPartitions`
  * folds it into a summary: money sums, receipt counts, and counts or
  * sums keyed by item, day, month or basket set. The driver merges the
  * summaries by addition and min/max, so its memory grows with those
  * keys, not with rows, and renders the report (and the monthly
  * charts). Money is summed exactly ([[JBigDecimal]] of each double) and
  * turned into a double once, so every partitioning prints the same
  * figures. A report's jobs carry the description
  * `Reports.<report>: …`, and the caller's description is restored
  * afterwards.
  */
object Reports {

  private def money(x: Double): String = f"$$$x%,.2f"

  private def pctChange(cur: Double, prev: Option[Double]): String =
    prev match {
      case Some(p) if p > 0 => f"${(cur - p) / p * 100}%+.1f%%"
      case _ => "(new)" // reference `monthly_report.py:548-551`
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

  /** An exact money sum: the sum of the doubles added, None while none
    * is. Sums merge in any order to the same value.
    */
  private type Sum = Option[JBigDecimal]

  private def plus(a: Sum, b: Sum): Sum = (a ++ b).reduceOption(_ add _)

  private def sumAt(r: Row, i: Int): Sum =
    if (r.isNullAt(i)) None else Some(new JBigDecimal(r.getDouble(i)))

  private def toDouble(s: Sum): Double = s.fold(0.0)(_.doubleValue)

  private def count[K](m: mutable.Map[K, Long], k: K): Unit = m(k) = m.getOrElse(k, 0L) + 1L

  private def addSum[K](m: mutable.Map[K, Sum], k: K, s: Sum): Unit =
    m(k) = plus(m.getOrElse(k, None), s)

  private def mergeWith[K, V](a: Map[K, V], b: Map[K, V])(f: (V, V) => V): Map[K, V] =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.get(k).fold(v)(f(_, v))) }

  /** Revenue (the sum of the non-null `total_money`) and distinct
    * receipts of one partition's rows, or of merged partitions: each
    * receipt lies in one partition, so the counts add.
    */
  private[pos] final case class Totals(revenue: Sum, receipts: Long) {
    def merge(o: Totals): Totals = Totals(plus(revenue, o.revenue), receipts + o.receipts)
  }

  /** [[Totals]] while a partition is folded. */
  private final class TotalsFold {
    private var revenue: Sum = None
    private val receipts = mutable.HashSet.empty[String]
    def add(receipt: String, totalMoney: Sum): Unit = {
      receipts += receipt
      revenue = plus(revenue, totalMoney)
    }
    def result: Totals = Totals(revenue, receipts.size.toLong)
  }

  /** What the monthly report and its charts read of a set of partitions:
    * both months' [[Totals]], the report month's items sold, and the
    * charts' line count per item and price sum per day.
    */
  private[pos] final case class MonthlySummary(cur: Totals, prev: Totals,
      sold: Map[Option[String], Long], chartItems: Map[Option[String], Long],
      dayRevenue: Map[Option[Int], Sum]) {
    def merge(o: MonthlySummary): MonthlySummary = MonthlySummary(cur.merge(o.cur),
      prev.merge(o.prev), mergeWith(sold, o.sold)(_ + _),
      mergeWith(chartItems, o.chartItems)(_ + _), mergeWith(dayRevenue, o.dayRevenue)(plus))
  }

  private object MonthlySummary {
    val Empty = MonthlySummary(Totals(None, 0L), Totals(None, 0L), Map.empty, Map.empty, Map.empty)
  }

  /** Monthly two-month comparison report. Reads the lake WITH the V1
    * dedup window (S8 asymmetry: monthly deduped, cumulative raw —
    * SURVEY §7.4.6).
    */
  def monthly(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): String =
    monthlyReport(spark, lakeRoot, reportMonth, comparisonMonth, None)

  /** [[monthly]] plus its K10 charts written to `chartDir`, both from
    * the one lake read.
    */
  private[pos] def monthlyWithCharts(spark: SparkSession, lakeRoot: String,
      reportMonth: String, comparisonMonth: String, chartDir: String): String =
    monthlyReport(spark, lakeRoot, reportMonth, comparisonMonth, Some(chartDir))

  private def monthlyReport(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String, chartDir: Option[String]): String =
    Scans.labelled(spark) { label =>
      label("Reports.monthly: partition summaries merged on the driver")
      val s = monthlySummaries(spark, lakeRoot, reportMonth, comparisonMonth).collect()
        .foldLeft(MonthlySummary.Empty)(_.merge(_))
      chartDir.foreach { dir =>
        Charts.writeMonthly(reportMonth, dir,
          topN(s.chartItems, Charts.TopItems).map { case (n, c) => n -> c.toDouble },
          s.dayRevenue.toSeq.sortBy(_._1).map(d => toDouble(d._2)))
      }
      monthlyMarkdown(reportMonth, comparisonMonth, toDouble(s.cur.revenue), s.cur.receipts,
        toDouble(s.prev.revenue), s.prev.receipts, topN(s.sold, 5))
    }

  /** The monthly report's one query: the two months' partitions, hash
    * partitioned on `receipt_number` and ranked by the V1 window twice.
    * Over both months it is the report's dedup
    * ([[Analytics.twoMonthDedupRead]]); within each month it is the
    * charts', which differs when the comparison month is the later one:
    * a key in both months keeps its report-month row for the charts
    * only. Both windows run on the one exchange. `report` marks the
    * deduped rows [[Transform.cleanForReporting]] keeps, `chart` the
    * report month's deduped rows; rows neither reader keeps are dropped.
    */
  private def monthlySlice(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): DataFrame = {
    def newest(within: Column*): Column = row_number().over(
      Window.partitionBy(col("receipt_number") +: col("item_name") +: within: _*)
        .orderBy(col("shifted_time").desc)) === 1
    Lake.read(spark, lakeRoot)
      .filter(Analytics.inMonth(reportMonth) || Analytics.inMonth(comparisonMonth))
      .repartition(col("receipt_number"))
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

  /** [[monthlySlice]] folded into one [[MonthlySummary]] per partition. */
  private[pos] def monthlySummaries(spark: SparkSession, lakeRoot: String, reportMonth: String,
      comparisonMonth: String): Dataset[MonthlySummary] =
    monthlySlice(spark, lakeRoot, reportMonth, comparisonMonth).mapPartitions { rows =>
      val cur = new TotalsFold
      val prev = new TotalsFold
      val sold = mutable.HashMap.empty[Option[String], Long]
      val chartItems = mutable.HashMap.empty[Option[String], Long]
      val dayRevenue = mutable.HashMap.empty[Option[Int], Sum]
      rows.foreach { r =>
        if (r.getBoolean(0)) {
          val ym = r.getString(2)
          val receipt = r.getString(3)
          val total = sumAt(r, 6)
          if (ym == comparisonMonth) prev.add(receipt, total)
          if (ym == reportMonth) {
            cur.add(receipt, total)
            val item = Option(r.getString(4)).getOrElse("Unknown")
            explodedNames(item, r.getString(5)).foreach(n => count(sold, Some(n)))
          }
        }
        if (r.getBoolean(1)) {
          count(chartItems, Option(r.getString(4)))
          addSum(dayRevenue, if (r.isNullAt(8)) None else Some(r.getInt(8)), sumAt(r, 7))
        }
      }
      Iterator.single(MonthlySummary(cur.result, prev.result, sold.toMap, chartItems.toMap,
        dayRevenue.toMap))
    }(Encoders.javaSerialization[MonthlySummary])

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

  /** What the cumulative report reads of a set of partitions. The rows
    * with a `shifted_time` give the [[Totals]], the revenue per month,
    * the price sum and receipt count per weekend flag, and the first and
    * last sale as (`at`, day); every row gives the items sold and the
    * histogram of basket sets (each receipt's sorted distinct items).
    */
  private[pos] final case class CumulativeSummary(all: Totals, months: Map[String, Sum],
      split: Map[Boolean, (Sum, Long)], first: Option[(Long, String)],
      last: Option[(Long, String)], sold: Map[Option[String], Long],
      baskets: Map[Seq[String], Long]) {
    def merge(o: CumulativeSummary): CumulativeSummary = CumulativeSummary(all.merge(o.all),
      mergeWith(months, o.months)(plus),
      mergeWith(split, o.split) { case ((r1, n1), (r2, n2)) => (plus(r1, r2), n1 + n2) },
      (first ++ o.first).minByOption(_._1), (last ++ o.last).maxByOption(_._1),
      mergeWith(sold, o.sold)(_ + _), mergeWith(baskets, o.baskets)(_ + _))
  }

  private object CumulativeSummary {
    val Empty = CumulativeSummary(Totals(None, 0L), Map.empty, Map.empty, None, None,
      Map.empty, Map.empty)
  }

  /** Cumulative all-history report. Reads the lake RAW — duplicates
    * included, matching the reference's S7 full scan.
    */
  def cumulative(spark: SparkSession, lakeRoot: String): String =
    Scans.labelled(spark) { label =>
      label("Reports.cumulative: partition summaries merged on the driver")
      val s = cumulativeSummaries(spark, lakeRoot).collect()
        .foldLeft(CumulativeSummary.Empty)(_.merge(_))
      val n = s.all.receipts
      val monthRevenues = s.months.values.flatten
      val kpis = CumulativeKpis(
        revenue = toDouble(s.all.revenue),
        receipts = n,
        avgReceipt = if (n > 0) toDouble(s.all.revenue) / n else 0.0,
        avgMonthly = if (monthRevenues.isEmpty) 0.0
          else monthRevenues.reduce(_ add _).doubleValue / monthRevenues.size,
        firstDay = s.first.map(_._2).orNull,
        lastDay = s.last.map(_._2).orNull)
      val weekdays = s.split.toSeq.sortBy(_._1).map { case (weekend, (rev, receipts)) =>
        (if (weekend) "Weekend" else "Weekday", toDouble(rev), receipts, toDouble(rev) / receipts)
      }
      // in one order whatever the partitioning, for FP-Growth's sake
      val hist = s.baskets.toArray.sortBy(_._1.mkString("\u0000"))
      val rules =
        if (hist.isEmpty) Array.empty[Row]
        else MarketBasket.byLift(MarketBasket.histogramRules(spark, hist,
            MarketBasket.DefaultMinSupport, MarketBasket.DefaultMinLift).getOrElse {
          // an item domain too wide for one bitmask: FP-Growth on the baskets
          import spark.implicits._
          MarketBasket.rulesFromBaskets(hist.toSeq.flatMap { case (set, k) => Seq.fill(k.toInt)(set) }
            .toDF("items"), MarketBasket.DefaultMinSupport, MarketBasket.DefaultMinLift)
        }).limit(5).collect()
      cumulativeMarkdown(kpis, weekdays, topN(s.sold, 5), rules)
    }

  /** The cumulative report's one query: the cleaned lake, hash
    * partitioned on `receipt_number` and projected to the columns the
    * report reads; `at` (epoch micros), `day`, `ym` and `weekend` are
    * null where `shifted_time` is.
    */
  private def cumulativeSlice(spark: SparkSession, lakeRoot: String): DataFrame =
    Transform.cleanForReporting(Lake.read(spark, lakeRoot).repartition(col("receipt_number")))
      .select(
        col("receipt_number"),
        col("item_name"),
        col("modifiers"),
        col("total_money"),
        col("price"),
        unix_micros(col("shifted_time")).as("at"),
        date_format(col("shifted_time"), "yyyy-MM-dd").as("day"),
        date_format(col("shifted_time"), "yyyy-MM").as("ym"),
        (weekday(col("shifted_time")) >= 4).as("weekend"))

  /** [[cumulativeSlice]] folded into one [[CumulativeSummary]] per partition. */
  private[pos] def cumulativeSummaries(spark: SparkSession,
      lakeRoot: String): Dataset[CumulativeSummary] =
    cumulativeSlice(spark, lakeRoot).mapPartitions { rows =>
      val all = new TotalsFold
      val months = mutable.HashMap.empty[String, Sum]
      val split = mutable.HashMap.empty[Boolean, (Sum, mutable.HashSet[String])]
      var first: Option[(Long, String)] = None
      var last: Option[(Long, String)] = None
      val sold = mutable.HashMap.empty[Option[String], Long]
      val baskets = mutable.HashMap.empty[String, Set[String]]
      rows.foreach { r =>
        val receipt = r.getString(0)
        val item = r.getString(1)
        explodedNames(item, r.getString(2)).foreach(n => count(sold, Some(n)))
        baskets(receipt) = baskets.getOrElse(receipt, Set.empty[String]) + item
        if (!r.isNullAt(5)) {
          val total = sumAt(r, 3)
          all.add(receipt, total)
          addSum(months, r.getString(7), total)
          val at = (r.getLong(5), r.getString(6))
          if (first.forall(at._1 < _._1)) first = Some(at)
          if (last.forall(at._1 > _._1)) last = Some(at)
          val (rev, receipts) = split.getOrElse(r.getBoolean(8), (None, mutable.HashSet.empty[String]))
          split(r.getBoolean(8)) = (plus(rev, sumAt(r, 4)), receipts += receipt)
        }
      }
      val hist = mutable.HashMap.empty[Seq[String], Long]
      baskets.values.foreach(set => count(hist, set.toSeq.sorted))
      Iterator.single(CumulativeSummary(all.result, months.toMap,
        split.view.mapValues { case (rev, receipts) => (rev, receipts.size.toLong) }.toMap,
        first, last, sold.toMap, hist.toMap))
    }(Encoders.javaSerialization[CumulativeSummary])

  private final case class CumulativeKpis(revenue: Double, receipts: Long, avgReceipt: Double,
      avgMonthly: Double, firstDay: String, lastDay: String)

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
