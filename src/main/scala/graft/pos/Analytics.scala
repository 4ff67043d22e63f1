package graft.pos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** P1–P19 — the reference's report-level derived relations (SURVEY §2.13),
  * each a lazy DataFrame over the curated/cleaned table.
  *
  * Scale: every relation is one shuffle (its groupBy) except the
  * percent-of-group pair (groupBy + window over the same key — Catalyst
  * reuses the partitioning). Domain fills join against literal broadcast
  * frames. countDistinct is exact, as the reference's report tables are.
  */
object Analytics {

  private def withMonth(df: DataFrame): DataFrame =
    df.withColumn("month", date_format(col("shifted_time"), "yyyy-MM"))

  private def dropBadShifted(df: DataFrame): DataFrame =
    df.withColumn("shifted_time", expr("try_cast(shifted_time AS TIMESTAMP)"))
      .na.drop(Seq("shifted_time"))

  /** C3 — order-category bucketing. Two rule sets exist in the reference:
    * P2 matches 'mesa' case-insensitively (`data_preparation.py:53-60`),
    * P9 matches 'Mesa' case-sensitively first (`:355-364`); both send
    * null/non-string to 'Otro'.
    */
  def orderCategory(orderType: Column, mesaCaseSensitive: Boolean): Column = {
    val mesaCond =
      if (mesaCaseSensitive) orderType.contains("Mesa")
      else lower(orderType).contains("mesa")
    when(orderType.isNull, "Otro")
      .when(mesaCond, "Restaurante")
      .when(lower(orderType).contains("domicilio"), "A domicilio")
      .when(lower(orderType).contains("llevar"), "Para llevar")
      .otherwise("Otro")
  }

  /** P3 on a shifted_time-keyed frame: run [[Transform.cleanForReporting]]
    * with `datetime` derived from `shifted_time` (frames that carry only
    * the shifted timestamp, e.g. lake reads).
    */
  def cleanedView(df: DataFrame): DataFrame =
    Transform.cleanForReporting(df.withColumn("datetime", col("shifted_time")))

  /** P1 — top-N products by line count (reference `data_preparation.py:9-33`). */
  def topProducts(df: DataFrame, topN: Int = 5): DataFrame =
    df.groupBy(col("item_name"))
      .agg(count(lit(1)).as("items_sold"))
      .orderBy(col("items_sold").desc, col("item_name"))
      .limit(topN)

  /** P2 — two-month comparison: distinct receipts per (month, day-of-week,
    * order category) over the 6-day Tue–Sun domain, zero-filled cartesian
    * (reference `data_preparation.py:35-74`).
    */
  def salesByDayComparison(df: DataFrame): DataFrame = {
    val prepared = withMonth(dropBadShifted(df))
      .withColumn("day_of_week", date_format(col("shifted_time"), "EEEE"))
      .withColumn("order_category", orderCategory(col("order_type"), mesaCaseSensitive = false))
    val agg = prepared
      .groupBy(col("month"), col("day_of_week"), col("order_category"))
      .agg(countDistinct(col("receipt_number")).as("count"))
    Domains
      .cartesianFill(agg, "day_of_week", Domains.weekdays6,
        Seq("month", "order_category"), Seq("count"))
      .orderBy(col("month"), col("__day_of_week_ord"), col("order_category"))
      .select("month", "day_of_week", "order_category", "count")
  }

  /** P5 — mayo distribution by month: burger filter (W2) + mayo-modifier
    * filter (W3) + regex extract + C6 standardization
    * (reference `data_preparation.py:201-230`).
    */
  def mayoDistributionByMonth(df: DataFrame): DataFrame =
    withMonth(dropBadShifted(df))
      .filter(col("item_name").rlike("(?i)Burger|Smash"))
      .filter(col("modifiers").rlike("(?i)Mayonesa"))
      .withColumn("mayo_type", regexp_extract(col("modifiers"), "Mayonesa\\((.*?)\\)", 1))
      .withColumn(
        "mayo_type",
        when(lower(col("mayo_type")).contains("sin mayonesa"), "Natural")
          .otherwise(col("mayo_type")))
      .groupBy(col("month"), col("item_name"), col("mayo_type"))
      .agg(count(lit(1)).as("count"))

  /** P6 — mayo counts + percent-of-burger (window percent, V3)
    * (reference `data_preparation.py:232-268`).
    */
  def mayoPctAndCounts(df: DataFrame): DataFrame = {
    val counts = df
      .filter(col("item_name").rlike("(?i)Burger|Smash"))
      .filter(col("modifiers").rlike("(?i)Mayonesa"))
      .withColumn("mayo_type", regexp_extract(col("modifiers"), "Mayonesa\\((.*?)\\)", 1))
      .groupBy(col("item_name"), col("mayo_type"))
      .agg(count(lit(1)).as("count"))
    counts.withColumn(
      "percentage",
      col("count") / sum(col("count")).over(Window.partitionBy(col("item_name"))) * 100)
  }

  private val beverageKeywords = "(?i)Refresco|Malteada|Coca|Squirt|Agua|Manzanita"

  /** C4 — beverage category. */
  private def beverageCategory(itemName: Column): Column =
    when(lower(itemName).contains("malteada"), "Malteadas")
      .when(lower(itemName).contains("agua"), "Aguas")
      .otherwise("Refrescos")

  /** P7 — beverage distribution with percent-of-category
    * (reference `data_preparation.py:272-302`).
    */
  def beverageDistribution(df: DataFrame): DataFrame = {
    val counts = df
      .filter(col("item_name").rlike(beverageKeywords))
      .withColumn("category", beverageCategory(col("item_name")))
      .groupBy(col("category"), col("item_name"))
      .agg(count(lit(1)).as("count"))
    counts.withColumn(
      "percentage",
      col("count") / sum(col("count")).over(Window.partitionBy(col("category"))) * 100)
  }

  /** P8 — monthly beverage counts with C5 water-name standardization
    * (reference `data_preparation.py:304-335`).
    */
  def beverageDistributionByMonth(df: DataFrame): DataFrame =
    withMonth(df)
      .filter(col("item_name").rlike(beverageKeywords))
      .withColumn(
        "item_name",
        when(lower(col("item_name")).contains("mineral"), "Agua Mineral")
          .when(
            lower(col("item_name")).contains("natural") ||
              lower(col("item_name")).contains("embotellada"),
            "Agua Embotellada")
          .otherwise(col("item_name")))
      .withColumn("category", beverageCategory(col("item_name")))
      .groupBy(col("month"), col("category"), col("item_name"))
      .agg(count(lit(1)).as("count"))

  /** P9 — distinct receipts per day-of-week, total + by category, 7-day
    * zero-filled domain, case-SENSITIVE Mesa rule
    * (reference `data_preparation.py:338-377`).
    */
  def salesByDayOfWeek(df: DataFrame): (DataFrame, DataFrame) = {
    val prepared = dropBadShifted(df)
      .withColumn("day_of_week", date_format(col("shifted_time"), "EEEE"))
      .withColumn("order_category", orderCategory(col("order_type"), mesaCaseSensitive = true))
    val total = Domains
      .cartesianFill(
        prepared.groupBy(col("day_of_week"))
          .agg(countDistinct(col("receipt_number")).as("count")),
        "day_of_week", Domains.weekdays7, Seq.empty, Seq("count"))
      .orderBy(col("__day_of_week_ord"))
      .select("day_of_week", "count")
    val byCat = Domains
      .cartesianFill(
        prepared.groupBy(col("day_of_week"), col("order_category"))
          .agg(countDistinct(col("receipt_number")).as("count")),
        "day_of_week", Domains.weekdays7, Seq("order_category"), Seq("count"))
      .orderBy(col("__day_of_week_ord"), col("order_category"))
      .select("day_of_week", "order_category", "count")
    (total, byCat)
  }

  /** P10 — per-date revenue + traffic (reference `data_preparation.py:379-398`). */
  def dailySalesMetrics(df: DataFrame): DataFrame =
    dropBadShifted(df)
      .groupBy(to_date(col("shifted_time")).as("date"))
      .agg(
        sum(col("price")).as("total_sales"),
        countDistinct(col("receipt_number")).as("unique_receipts"))
      .orderBy(col("date"))

  /** P11 — (month, day-of-month) revenue + traffic for comparison
    * (reference `data_preparation.py:400-418`).
    */
  def dailySalesComparison(df: DataFrame): DataFrame =
    withMonth(dropBadShifted(df))
      .withColumn("day_of_month", dayofmonth(col("shifted_time")))
      .groupBy(col("month"), col("day_of_month"))
      .agg(
        sum(col("price")).as("total_sales"),
        countDistinct(col("receipt_number")).as("unique_receipts"))
      .orderBy(col("month"), col("day_of_month"))

  /** P12 — cumulative KPI row (reference `cumulative_report.py:24-56`):
    * one aggregate pass + derived scalars.
    */
  def cumulativeKpis(df: DataFrame): DataFrame = {
    val base = dropBadShifted(
      df.withColumn("price", coalesce(expr("try_cast(price AS DOUBLE)"), lit(0.0))))
    base.agg(
      sum(col("total_money")).as("total_revenue"),
      countDistinct(col("receipt_number")).as("total_receipts"),
      date_format(min(col("shifted_time")), "yyyy-MM-dd").as("first_sale_date"),
      date_format(max(col("shifted_time")), "yyyy-MM-dd").as("last_sale_date"))
      .withColumn(
        "average_receipt_value",
        when(col("total_receipts") > 0, col("total_revenue") / col("total_receipts"))
          .otherwise(0.0))
      .crossJoin(
        withMonth(base).groupBy(col("month")).agg(sum(col("total_money")).as("rev"))
          .agg(avg(col("rev")).as("average_monthly_revenue")))
  }

  /** P13 — weekday vs weekend split: weekday() >= 4 ⇒ Fri/Sat/Sun is
    * "Weekend" (reference `cumulative_report.py:58-89`; Monday=0 there,
    * Spark's weekday() matches that convention).
    */
  def weekdayVsWeekend(df: DataFrame): DataFrame =
    dropBadShifted(df)
      .withColumn(
        "period_type",
        when(weekday(col("shifted_time")) >= 4, "Weekend").otherwise("Weekday"))
      .groupBy(col("period_type"))
      .agg(
        sum(col("price")).as("total_revenue"),
        countDistinct(col("receipt_number")).as("total_receipts"))
      .withColumn("avg_sale_per_receipt", col("total_revenue") / col("total_receipts"))
      .orderBy(col("period_type"))

  /** P14 — hourly traffic heatmap: day × hour pivot of distinct receipts,
    * 7-day reindex with explicit 0–23 pivot values for plan determinism
    * (reference `cumulative_report.py:91-120`).
    */
  def hourlyTrafficHeatmap(df: DataFrame): DataFrame = {
    val hours = (0 to 23).map(h => h: Integer)
    val agg = dropBadShifted(df)
      .withColumn("day_of_week", date_format(col("shifted_time"), "EEEE"))
      .withColumn("hour", hour(col("shifted_time")))
      .groupBy(col("day_of_week"))
      .pivot("hour", hours)
      .agg(countDistinct(col("receipt_number")))
      .na.fill(0L, hours.map(_.toString))
    Domains.domainDF(df.sparkSession, "day_of_week", Domains.weekdays7)
      .join(agg, Seq("day_of_week"), "left")
      .na.fill(0L, hours.map(_.toString))
      .orderBy(col("__day_of_week_ord"))
      .drop("__day_of_week_ord")
  }

  /** P17 — monthly revenue trend (reference `cumulative_report.py:450-505`). */
  def monthlySalesTrend(df: DataFrame): DataFrame =
    withMonth(dropBadShifted(df))
      .groupBy(col("month"))
      .agg(sum(col("total_money")).as("total_sales"))
      .orderBy(col("month"))

  /** P18 — per-month KPIs + percent change vs prior month via lag window
    * (reference `monthly_report.py:514-561`; prev==0 ⇒ null pct, rendered
    * "(new)" at the report layer).
    */
  def monthlyKpiComparison(df: DataFrame): DataFrame = {
    val monthly = withMonth(dropBadShifted(df))
      .groupBy(col("month"))
      .agg(
        sum(col("total_money")).as("revenue"),
        countDistinct(col("receipt_number")).as("receipts"))
    // Single-partition window BY DESIGN: the input is the post-aggregate
    // month relation — O(#months) rows, bounded by the calendar, never
    // by data volume — and the lag needs a total order over it. The
    // explicit lit(1) partition documents that the serialization is
    // intentional (this is the only unpartitioned window in the repo);
    // were the key ever data-scaled, compute lag via a self-join on
    // month − 1 instead.
    val w = Window.partitionBy(lit(1)).orderBy(col("month"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn(
        "revenue_change_pct",
        when(col("prev_revenue") > 0,
          (col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100))
      .orderBy(col("month"))
  }

  /** V1/P19 — read-side dedup window: newest (receipt_number, item_name)
    * wins (reference `monthly_report.py:52-71`).
    */
  def dedupLatest(df: DataFrame, tiebreakers: Seq[Column] = Seq.empty): DataFrame = {
    val w = Window
      .partitionBy(col("receipt_number"), col("item_name"))
      .orderBy(col("shifted_time").desc +: tiebreakers: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregation form of [[dedupLatest]]: `max_by(row, ordering-struct)`
    * instead of a ROW_NUMBER window. Same winner whenever the ordering
    * is a total order (greater struct = window's DESC sort), but the
    * physical plan is a hash aggregate with MAP-SIDE COMBINE: each task
    * pre-reduces its duplicates before the exchange, so the shuffle
    * carries one row per (key × task) instead of every row, and no
    * per-partition sort runs. At 100 TB with any duplication this is
    * strictly less data moved; the window form ships and sorts
    * everything. `greaterWins` are plain columns (no .desc) — larger
    * value wins, mirroring the window's descending tiebreakers.
    */
  def dedupLatestAgg(df: DataFrame, greaterWins: Seq[Column] = Seq.empty): DataFrame = {
    val ord = struct(col("shifted_time") +: greaterWins: _*)
    df.groupBy(col("receipt_number"), col("item_name"))
      .agg(max_by(struct(df.columns.map(col): _*), ord).as("__w"))
      .select(col("__w.*"))
  }

  /** P19 — two-month windowed-dedup read over the partitioned lake:
    * partition-pruned scan of (report month, comparison month) then V1
    * (reference `monthly_report.py:21-91`).
    */
  def twoMonthDedupRead(lake: DataFrame, reportMonth: String, comparisonMonth: String): DataFrame =
    dedupLatest(lake.filter(inMonth(reportMonth) || inMonth(comparisonMonth)))

  /** True on the lake rows of the `yyyy-MM` partition `m` — a predicate
    * on the partition keys, so a lake scan prunes to that month.
    */
  private[pos] def inMonth(m: String): Column = {
    val Array(y, mo) = m.split("-")
    col("year") === y && col("month") === mo
  }
}
