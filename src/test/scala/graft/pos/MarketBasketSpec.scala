package graft.pos

import graft.SparkSpec
import graft.operators.DriverBound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Pins the r18 mask-histogram driver Apriori ≡ the MLlib FPGrowth
  * path: the frequent-itemset lattice is a declarative set
  * (freq ≥ ceil(minSupport·n)), so both algorithms must emit the same
  * single-consequent rules with the same support/confidence/lift.
  */
class MarketBasketSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random baskets: 400 baskets over 10 items
    * with correlated pairs so real multi-item rules survive the cuts.
    */
  private def basketDf: DataFrame = {
    val rnd = new scala.util.Random(42)
    val items = (0 until 10).map(i => s"it$i")
    (0 until 400).flatMap { r =>
      val base = items.filter(_ => rnd.nextDouble() < 0.25)
      // correlate it0→it1 and (it2,it3)→it4 so 2- and 3-sets go frequent
      val corr = (if (base.contains("it0") && rnd.nextDouble() < 0.9) Seq("it1") else Nil) ++
        (if (base.contains("it2") && base.contains("it3") && rnd.nextDouble() < 0.8) Seq("it4") else Nil)
      (base ++ corr).distinct.map(it => (r.toLong, it))
    }.toDF("receipt_number", "item_name")
  }

  private def canon(df: DataFrame): Seq[(String, String, Double, Double, Double)] =
    df.select(
      array_join(array_sort(col("antecedent")), ",").as("a"),
      array_join(array_sort(col("consequent")), ",").as("c"),
      col("support"), col("confidence"), col("lift"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** `body` with the histogram switch's byte budget at `budget`. */
  private def within[T](budget: Long)(body: => T): T =
    DriverBound.withBudget("MarketBasket.histogram" -> budget)(body)

  /** The rules at a histogram byte `budget`, and whether the driver
    * Apriori made them (its rules are a local relation).
    */
  private def rulesAt(b: DataFrame, budget: Long) = {
    val df = within(budget)(MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5))
    (canon(df), df.queryExecution.analyzed.isInstanceOf[LocalRelation])
  }

  test("driver mask-histogram Apriori equals FPGrowth rules exactly") {
    val b = MarketBasket.baskets(basketDf)
    val driver = canon(MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5))
    assert(driver.nonEmpty, "corpus must generate rules for the pin to bite")
    assert(driver.exists(_._1.contains(",")), "need a multi-item antecedent in play")
    val fp = canon(within(-1L)( // force FPGrowth
      MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5)))
    assert(driver == fp)
  }

  test("histogram bound forces the FPGrowth fallback (results unchanged)") {
    val b = MarketBasket.baskets(basketDf)
    val histogram = b.select(sort_array(col("items")).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    val fb = canon(within(3L * MarketBasket.histogramRowBytes(histogram.schema))( // blow the probe
      MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5)))
    val dr = canon(MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5))
    assert(fb == dr)
  }

  test("histogram switch at the byte bound: at it, one row over, empty and all-null baskets") {
    val b = MarketBasket.baskets(basketDf)
    val histogram = b.select(sort_array(col("items")).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    val at = histogram.count() * MarketBasket.histogramRowBytes(histogram.schema)
    val (atRules, atDriver) = rulesAt(b, at)
    val (overRules, overDriver) = rulesAt(b, at - 1L)
    assert(atDriver, "a budget at the histogram's bytes must take the driver Apriori")
    assert(!overDriver, "one histogram row over the budget must fall back to FPGrowth")
    assert(atRules.nonEmpty && atRules == overRules)
    // empty baskets, and baskets whose items are all null (collect_set
    // leaves them empty): no rules on either path
    val empty = MarketBasket.baskets(Seq.empty[(Long, String)].toDF("receipt_number", "item_name"))
    val nulls = MarketBasket.baskets(
      Seq((1L, null: String), (2L, null), (2L, null)).toDF("receipt_number", "item_name"))
    for ((name, in) <- Seq("empty" -> empty, "all-null" -> nulls); budget <- Seq(Long.MaxValue, -1L))
      assert(rulesAt(in, budget)._1.isEmpty, s"$name baskets at budget $budget")
  }

  test("rules: equal lifts order by antecedents then consequents on every run") {
    // every pair of the three items co-occurs alike, so the six pair
    // rules and the triple's three rules each share one lift
    val df = Seq("r1", "r2", "r3").flatMap(r => Seq("c", "a", "b").map(i => (r, i)))
      .toDF("receipt_number", "item_name").repartition(3)
    def top(): Seq[(Seq[String], Seq[String], Double)] =
      MarketBasket.rules(df, minSupport = 0.1, minLift = 0.5).limit(5).collect()
        .map(r => (r.getSeq[String](0), r.getSeq[String](1), r.getDouble(4))).toSeq
    val first = top()
    assert(first.map(_._3).distinct.size === 1, "the fixture must tie on lift")
    val key = first.map(t => (t._1.sorted.mkString(","), t._2.sorted.mkString(",")))
    assert(key === key.sorted)
    (1 to 3).foreach(_ => assert(top() === first))
  }
}
