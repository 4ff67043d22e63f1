package graft.pos

import org.apache.spark.ml.fpm.FPGrowth
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructField, StructType}

import graft.operators.DriverBound

/** P15/A12 — market-basket analysis (reference
  * `cumulative_report.py:122-160`): baskets per receipt → frequent
  * itemsets → association rules sorted by lift.
  *
  * The reference uses mlxtend Apriori; FP-Growth is the distributed
  * algorithm with the identical output contract (itemsets ≥ min_support;
  * rules with confidence/lift). mlxtend generates ALL rules and filters
  * on lift ≥ threshold, while FPGrowth filters on confidence natively —
  * so confidence is set to 0 and lift filtered afterwards (SURVEY §7.4.9).
  * Baskets are SETS: TransactionEncoder one-hot collapses duplicate items
  * per receipt (SURVEY §7.4.10) ⇒ collect_set.
  *
  * Optimization r18 (guide §1.2/§8 "decide with small rows"): when the
  * item domain fits one Long bitmask AND the distinct basket-mask
  * histogram fits the [[graft.operators.DriverBound]] budget, the
  * frequent-itemset lattice is solved on the driver from the collected
  * `(mask, count)` histogram — a
  * level-wise Apriori with anti-monotone pruning — instead of an MLlib
  * FPGrowth fit (measured 91 task-seconds on p15's SIX-item domain).
  * Frequent itemsets are a declarative set (freq ≥ ceil(minSupport·n)),
  * so the rule set is algorithm-independent; `MarketBasketSpec` pins the
  * two paths equal, and oversized domains or histograms keep FPGrowth.
  */
object MarketBasket {

  def baskets(df: DataFrame): DataFrame =
    // Project, then spread a single-split scan so the collect_set's
    // partial aggregation doesn't serialize inside one scan task (the
    // groupBy reuses the exchange's receipt partitioning; no-op at
    // real scale — guide §2.4/§2.5).
    graft.operators.Scans.spreadSmall(
      df.select(col("receipt_number"), col("item_name")), col("receipt_number"))
      .groupBy(col("receipt_number"))
      .agg(collect_set(col("item_name")).as("items"))

  /** Item domains over this bound (bit-per-item in one Long) always run
    * FPGrowth.
    */
  private val maskItemsMax = 48

  /** Itemsets the driver Apriori may hold at once (frequent sets plus
    * the level being generated). One frequent basket of k items makes
    * every one of its 2^k subsets frequent, so a 30-item receipt among
    * fewer than 100 baskets would otherwise fill the heap.
    */
  private val driverItemsetsMax = 1 << 20

  /** [[rules]]' thresholds unless the caller names others. */
  private[pos] val DefaultMinSupport = 0.01
  private[pos] val DefaultMinLift = 0.5

  /** Association rules with mlxtend's column contract:
    * antecedents, consequents, support (joint), confidence, lift —
    * sorted by lift desc. Equal lifts (A→B and B→A tie) order by the
    * sorted antecedents, then the sorted consequents, so a top-N is the
    * same on every run.
    */
  def rules(df: DataFrame, minSupport: Double = DefaultMinSupport,
            minLift: Double = DefaultMinLift): DataFrame =
    byLift(rulesFromBaskets(baskets(df), minSupport, minLift))

  /** A [[rulesFromBaskets]] frame in [[rules]]' columns and order. */
  private[pos] def byLift(rules: DataFrame): DataFrame =
    rules
      .select(
        col("antecedent").as("antecedents"),
        col("consequent").as("consequents"),
        col("support"),
        col("confidence"),
        col("lift"))
      .orderBy(col("lift").desc, array_sort(col("antecedents")), array_sort(col("consequents")))

  /** Association rules (single consequent, lift ≥ `minLift`) from a
    * basket relation with an `items` array column. Columns: antecedent,
    * consequent (array<string>), support, confidence, lift — FPGrowth's
    * schema; unordered.
    */
  def rulesFromBaskets(b: DataFrame, minSupport: Double, minLift: Double): DataFrame =
    DriverBound("MarketBasket.histogram", b.sparkSession) { sw =>
      // ONE probe decides the path AND feeds it: the distinct sorted-
      // itemset histogram (a sorted array IS the set, so rows map 1:1 to
      // bitmasks; the item domain is their union). Over the budget or a
      // bitmask's width, FPGrowth runs.
      val hist = b.select(sort_array(col("items")).as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      sw.collect(hist, histogramRowBytes(hist.schema))
        .map(_.map(r => (r.getSeq[String](0), r.getLong(1))))
        .flatMap(histogramRules(b.sparkSession, _, minSupport, minLift))
        .getOrElse {
          sw.distributed()
          fpGrowthRules(b, minSupport, minLift)
        }
    }

  /** Driver bytes per collected histogram row: the row, with its key
    * array at Spark's one-element default, and its `(mask, count)`.
    */
  private[pos] def histogramRowBytes(schema: StructType): Long =
    DriverBound.rowBytes(schema) + 48L

  /** [[rulesFromBaskets]] by an MLlib FPGrowth fit. */
  private def fpGrowthRules(b: DataFrame, minSupport: Double, minLift: Double): DataFrame = {
    val fp = new FPGrowth()
      .setItemsCol("items")
      .setMinSupport(minSupport)
      .setMinConfidence(0.0)
    // NOTE: setNumPartitions was measured 3× SLOWER on this shape
    // (b1 at sf1) — more partitions duplicate the conditional
    // FP-trees; the default (input partitioning) is right here.
    // fit scans twice (support count + tree build); cache across
    // them, drop before returning (itemsets live in the model).
    val bc = b.cache()
    try {
      fp.fit(bc).associationRules
        .filter(col("lift") >= minLift)
        .select(col("antecedent"), col("consequent"),
          col("support"), col("confidence"), col("lift"))
    } finally bc.unpersist()
  }

  /** Rules from a basket histogram (each distinct item set, once, with
    * the number of baskets holding exactly it) by [[driverRules]], or
    * None when the histogram is empty or its item domain is over
    * [[maskItemsMax]].
    */
  private[pos] def histogramRules(spark: SparkSession, hist: Array[(Seq[String], Long)],
                                  minSupport: Double, minLift: Double): Option[DataFrame] = {
    val domain = hist.iterator.flatMap(_._1).toArray.distinct.sorted
    if (domain.isEmpty || domain.length > maskItemsMax) None
    else {
      val bitOf = domain.zipWithIndex.map { case (s, i) => s -> (1L << i) }.toMap
      val masks = hist.map { case (key, cnt) =>
        (key.foldLeft(0L)((m, it) => m | bitOf(it)), cnt)
      }
      Some(driverRules(spark, domain, masks, minSupport, minLift))
    }
  }

  /** Level-wise Apriori over the collected mask histogram. Support of an
    * itemset X = Σ counts of basket masks ⊇ X; minCount =
    * ceil(minSupport·n) (FPGrowth's exact cut); rule metrics use the
    * same double expression trees as the DuckDB oracles
    * (fx/n, fx/fa, (fx/fa)/(fc/n)).
    */
  private def driverRules(spark: SparkSession, items: Array[String],
                          hist: Array[(Long, Long)],
                          minSupport: Double, minLift: Double): DataFrame = {
    val k = items.length
    val n = hist.map(_._2).sum
    val minCount = math.ceil(minSupport * n).toLong
    def countOf(mask: Long): Long = {
      var s = 0L
      var i = 0
      while (i < hist.length) {
        if ((hist(i)._1 & mask) == mask) s += hist(i)._2
        i += 1
      }
      s
    }
    val freq = scala.collection.mutable.LongMap.empty[Long]
    var level: Seq[Long] = (0 until k).map(i => 1L << i).filter { m =>
      val c = countOf(m)
      if (c >= minCount) { freq(m) = c; true } else false
    }
    var size = 1
    while (level.nonEmpty) {
      size += 1
      // Candidates: frequent set + one item, kept only when every
      // one-smaller subset is frequent (anti-monotone prune). Every
      // frequent (p+1)-set has a frequent p-subset, so this generates
      // the complete next level.
      val cand = scala.collection.mutable.LinkedHashSet.empty[Long]
      for (a <- level; i <- 0 until k) {
        val m = a | (1L << i)
        if (m != a && !cand.contains(m)) {
          var ok = true
          var j = 0
          while (ok && j < k) {
            val bj = 1L << j
            if ((m & bj) != 0L && !freq.contains(m ^ bj)) ok = false
            j += 1
          }
          if (ok) {
            cand += m
            if (freq.size + cand.size > driverItemsetsMax)
              throw new IllegalStateException(
                s"MarketBasket: level $size holds ${cand.size} candidate itemsets on top of " +
                  s"${freq.size} frequent ones, over the driver bound $driverItemsetsMax")
          }
        }
      }
      level = cand.toSeq.filter { m =>
        val c = countOf(m)
        if (c >= minCount) { freq(m) = c; true } else false
      }
    }
    def itemsOf(mask: Long): Seq[String] =
      (0 until k).filter(i => (mask & (1L << i)) != 0L).map(items)
    val rows = for {
      (x, fx) <- freq.toSeq if java.lang.Long.bitCount(x) >= 2
      i <- 0 until k if (x & (1L << i)) != 0L
      fa = freq(x ^ (1L << i))
      fc = freq(1L << i)
      confidence = fx.toDouble / fa
      lift = confidence / (fc.toDouble / n)
      if lift >= minLift
    } yield Row(itemsOf(x ^ (1L << i)), Seq(items(i)),
      fx.toDouble / n, confidence, lift)
    val schema = StructType(Seq(
      StructField("antecedent", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("consequent", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("support", DoubleType, nullable = false),
      StructField("confidence", DoubleType, nullable = false),
      StructField("lift", DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
