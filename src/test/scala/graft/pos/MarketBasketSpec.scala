package graft.pos

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
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

  test("driver mask-histogram Apriori equals FPGrowth rules exactly") {
    val b = MarketBasket.baskets(basketDf)
    val driver = canon(MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5))
    assert(driver.nonEmpty, "corpus must generate rules for the pin to bite")
    assert(driver.exists(_._1.contains(",")), "need a multi-item antecedent in play")
    val fp = canon(MarketBasket.rulesWithin(b, minSupport = 0.02, minLift = 0.5,
      itemsMax = 1, histogramMax = 1 << 20)) // force FPGrowth
    assert(driver == fp)
  }

  test("histogram bound forces the FPGrowth fallback (results unchanged)") {
    val b = MarketBasket.baskets(basketDf)
    val fb = canon(MarketBasket.rulesWithin(b, minSupport = 0.02, minLift = 0.5,
      itemsMax = 48, histogramMax = 3)) // blow the probe
    val dr = canon(MarketBasket.rulesFromBaskets(b, minSupport = 0.02, minLift = 0.5))
    assert(fb == dr)
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
