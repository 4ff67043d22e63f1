package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TWO-PASS distributed global rank — the shape every "one global
  * window" note in this repo (t24's running sum, the t33/t34 ranked
  * cuts, `MixtureSampling`'s scaladoc) promises as the 1000-executor
  * path, implemented once for real: range-partition on the order key,
  * count each partition (pass 1), broadcast the |partitions|-row
  * prefix offsets, and rank WITHIN partitions in parallel (pass 2) —
  * `offset + row_number` is the exact global rank, with no
  * single-partition window anywhere.
  *
  * The range-partitioned sorted run is eagerly checkpointed between
  * the passes: pass 2's offsets are only valid for pass 1's exact
  * partitioning, so the run must be materialized once and ranked from
  * storage (at 100 TB this is the sorted staging write a real
  * two-pass job does anyway — the checkpoint is the local-mode stand-in
  * for that lake write, and it also makes the operator immune to
  * range-sampler nondeterminism across jobs).
  *
  * The order must be TOTAL (pass a tie-breaking id last) or ranks
  * within equal keys are partition-placement-dependent.
  */
object GlobalRank {

  /** Driver bound for the size-gated one-collect finish on the
    * ONE-SHOT rank/prefix-sum shapes (optimization r18).
    */
  private val driverFinishMax = 65536L

  /** Shared two-pass core: range-partition + sort on `ord`, checkpoint
    * the run, collect one `agg` row per partition, broadcast the
    * exclusive prefix of those values, and hand the caller the
    * checkpointed run with `__pid`/`__off` columns to finish within
    * partitions in parallel. The returned [[Checkpoints.Token]] frees
    * the staged run's blocks — hot-loop callers (the suffix-array
    * doubling rounds) MUST free it once their round materializes, or
    * every round's staging run stays in storage memory until GC.
    */
  private def prefixed(df: DataFrame, nParts: Int, agg: Column,
                       ord: Seq[Column],
                       combine: (Long, Long) => Long = _ + _,
                       extra: Option[Column] = None)
      : (DataFrame, Long, Checkpoints.Token, Long) = {
    val (parted, token) = Checkpoints.eager(df
      .repartitionByRange(nParts, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__pid", spark_partition_id()))
    // Pass 1: per-partition aggregates — |partitions| rows to the
    // driver. A caller-supplied `extra` per-partition aggregate rides
    // the SAME collect (summed across partitions) so iterated callers
    // — the suffix-array doubling rounds need the next live count —
    // never pay a separate action for a statistic this pass already
    // visits every row for (optimization r17, guide §1.2).
    val aggs = Seq(agg.as("n")) ++ extra.map(_.cast("long").as("x"))
    val collected = parted.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
      .collect()
    val sizes = collected
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    val extraTotal =
      if (extra.isEmpty) 0L
      else collected.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
    // Exclusive prefix under `combine` (sum for ranks/running sums,
    // max for running maxima) with SQL's null skipping: a partition
    // whose aggregate is null leaves the prefix as it was, and `__off`
    // is null until some earlier partition carried a value.
    val prefix = sizes.scanLeft(Option.empty[Long]) { case (acc, (_, n)) =>
      (acc ++ n).reduceOption(combine)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(sizes.map(_._1).zip(prefix.init).toSeq.toDF("__pid", "__off"))
    (parted.join(offDf, Seq("__pid")), prefix.last.getOrElse(0L), token, extraTotal)
  }

  /** The two-pass rank: [[rankCountedWithin]]'s finish over the driver
    * bound. The staged run is left to the ContextCleaner.
    */
  private def twoPassRank(df: DataFrame, rankCol: String, nParts: Int,
                          ord: Column*): (DataFrame, Long) = {
    val (run, total, _, _) =
      prefixed(df, nParts, coalesce(count(lit(1)), lit(0L)), ord)
    // Pass 2: parallel per-partition rank + broadcast offset.
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    (run
      .withColumn(rankCol,
        (coalesce(col("__off"), lit(0L)) + row_number().over(w)).cast("long"))
      .drop("__pid", "__off"), total)
  }

  /** Add `rankCol` (1-based global rank under `ord`) to `df`, and
    * return the total row count (already known from pass 1 — callers
    * deriving rank-relative cuts like NTILE need it and should not pay
    * another corpus action for it). The staging checkpoint is left to
    * the ContextCleaner (one-shot callers).
    *
    * Size-gated driver finish (optimization r18; guide §1.2/§8): the
    * relation is materialized once — the staging write the two-pass
    * pays anyway, and in the over-bound fallback the range SAMPLER then
    * reads blocks instead of re-executing the whole upstream plan — and
    * when the materialized count fits [[driverFinishMax]], the run is
    * collected in `ord` order (TakeOrderedAndProject: per-partition
    * top-k — no range sampler, no offsets pass, no window) and ranked
    * in one driver pass; `GlobalRankSpec` pins both paths ≡ the window
    * form. Iterated callers keep `withGlobalPrefixSumTracked`/`Agg`.
    */
  def withGlobalRankCounted(df: DataFrame, rankCol: String, nParts: Int,
                            ord: Column*): (DataFrame, Long) =
    rankCountedWithin(driverFinishMax, df, rankCol, nParts, ord: _*)

  /** [[withGlobalRankCounted]] with the driver bound passed in, so
    * specs can run either finish on the same input.
    */
  private[operators] def rankCountedWithin(driverMax: Long, df: DataFrame,
                                           rankCol: String, nParts: Int,
                                           ord: Column*): (DataFrame, Long) = {
    val (mat, token, n) = Checkpoints.eagerCounted(df)
    if (n > driverMax) {
      val ranked = twoPassRank(mat, rankCol, nParts, ord: _*)
      token.free() // the partitioned run's own eager checkpoint stands
      ranked
    } else {
      val rows = mat.orderBy(ord: _*).limit(math.max(n, 1L).toInt).collect()
      token.free()
      val out = rows.iterator.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ java.lang.Long.valueOf(i + 1L))
      }.toSeq
      val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false))
      import scala.jdk.CollectionConverters._
      (df.sparkSession.createDataFrame(out.asJava, schema), n)
    }
  }

  /** Add `rankCol` (1-based global rank under `ord`) to `df`. */
  def withGlobalRank(df: DataFrame, rankCol: String, nParts: Int,
                     ord: Column*): DataFrame =
    withGlobalRankCounted(df, rankCol, nParts, ord: _*)._1

  /** Add `ntileCol` — exactly SQL `NTILE(n) OVER (ORDER BY ord)` (the
    * first `total mod n` buckets get the extra row) — via the two-pass
    * rank: no single-partition window. `ord` must be total.
    */
  def withGlobalNtile(df: DataFrame, ntileCol: String, n: Int, nParts: Int,
                      ord: Column*): DataFrame =
    ntileWithin(driverFinishMax, df, ntileCol, n, nParts, ord: _*)

  /** [[withGlobalNtile]] with the rank's driver bound passed in. */
  private[operators] def ntileWithin(driverMax: Long, df: DataFrame, ntileCol: String,
                                     n: Int, nParts: Int, ord: Column*): DataFrame = {
    val (ranked, total) = rankCountedWithin(driverMax, df, "__grk", nParts, ord: _*)
    val base = total / n
    val rem = total % n
    val cut = rem * (base + 1) // ranks <= cut fall in the wide buckets
    val rk = col("__grk")
    // Integer division via floor: Column./ is double division; the
    // quotients here are < n, so floor is exact far beyond any corpus.
    ranked
      .withColumn(ntileCol,
        when(rk <= cut, floor((rk - 1) / (base + 1)) + 1)
          .otherwise(lit(rem) + floor((rk - 1 - cut) / lit(math.max(base, 1L))) + 1)
          .cast("long"))
      .drop("__grk")
  }

  /** Add `sumCol` — the inclusive running sum of `value` in global
    * `ord` order (≡ `SUM(value) OVER (ORDER BY ord)` under a total
    * order) — with the same two-pass shape: per-partition value totals
    * to the driver, broadcast exclusive prefix, parallel within-
    * partition running sums.
    */
  def withGlobalPrefixSum(df: DataFrame, sumCol: String, value: Column,
                          nParts: Int, ord: Column*): DataFrame =
    prefixSumWithin(driverFinishMax, df, sumCol, value, nParts, ord: _*)

  /** [[withGlobalPrefixSum]] with the driver bound passed in, so specs
    * can run either finish on the same input.
    */
  private[operators] def prefixSumWithin(driverMax: Long, df: DataFrame, sumCol: String,
                                         value: Column, nParts: Int,
                                         ord: Column*): DataFrame = {
    // Same size-gated driver finish as [[withGlobalRankCounted]] (the
    // value expression is materialized as a column before the staging
    // checkpoint so the driver pass reads it positionally). Running-sum
    // null semantics replicate the window form exactly: null until the
    // first non-null value, then the sum of non-nulls so far.
    val (mat, token, n) =
      Checkpoints.eagerCounted(df.withColumn("__grk_v", value.cast("long")))
    if (n > driverMax) {
      val out =
        withGlobalPrefixSumTracked(mat.drop("__grk_v"), sumCol, value, nParts, ord: _*)._1
      token.free() // the partitioned run's own eager checkpoint stands
      out
    } else {
      val rows = mat.orderBy(ord: _*).limit(math.max(n, 1L).toInt).collect()
      token.free()
      val vi = mat.schema.fieldIndex("__grk_v")
      var seen = false
      var acc = 0L
      val out = rows.iterator.map { r =>
        if (!r.isNullAt(vi)) { acc += r.getLong(vi); seen = true }
        org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(vi, Nil, 1) :+
          (if (seen) java.lang.Long.valueOf(acc) else null))
      }.toSeq
      val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
        org.apache.spark.sql.types.StructField(sumCol,
          org.apache.spark.sql.types.LongType, nullable = true))
      import scala.jdk.CollectionConverters._
      df.sparkSession.createDataFrame(out.asJava, schema)
    }
  }

  /** [[withGlobalPrefixSum]] plus the staged run's checkpoint token
    * (iterated callers free it once their round materializes).
    */
  def withGlobalPrefixSumTracked(df: DataFrame, sumCol: String, value: Column,
                                 nParts: Int, ord: Column*)
      : (DataFrame, Checkpoints.Token) = {
    val (run, _, token, _) = prefixed(df, nParts, sum(value.cast("long")), ord)
    (runningSum(run, sumCol, value, ord), token)
  }

  /** Pass 2 of the prefix sums: each row's within-partition running sum
    * plus the earlier partitions' offset. Null until the first non-null
    * value in global order, then the sum of non-nulls so far — the
    * window form's semantics, also across a partition whose value
    * prefix is all null.
    */
  private def runningSum(run: DataFrame, sumCol: String, value: Column,
                         ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run
      .withColumn("__psum", sum(value.cast("long")).over(w))
      .withColumn(sumCol,
        coalesce(col("__off") + col("__psum"), col("__off"), col("__psum")).cast("long"))
      .drop("__pid", "__off", "__psum")
  }

  /** [[withGlobalPrefixSumTracked]] plus a SECOND driver-side statistic
    * computed on the same pass-1 collect: `extra` is aggregated per
    * partition and summed across partitions. Iterated callers (the
    * suffix-array doubling loop) read their convergence statistic here
    * instead of paying one more full-relation action per round.
    */
  def withGlobalPrefixSumAgg(df: DataFrame, sumCol: String, value: Column,
                             nParts: Int, extra: Column, ord: Column*)
      : (DataFrame, Long, Checkpoints.Token) = {
    val (run, _, token, x) = prefixed(df, nParts, sum(value.cast("long")), ord,
      extra = Some(extra))
    (runningSum(run, sumCol, value, ord), x, token)
  }

  /** Add `maxCol` — the running max of `value` over STRICTLY PRECEDING
    * rows in global `ord` order (≡ `MAX(value) OVER (ORDER BY ord ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`; null on the global
    * first row) — same two-pass shape. The exclusive form is the one
    * interval coalescing (gaps-and-islands over sorted spans) needs:
    * a row starts a new island iff its start exceeds every EARLIER
    * row's end.
    */
  def withGlobalPrefixMaxExcl(df: DataFrame, maxCol: String, value: Column,
                              nParts: Int, ord: Column*): DataFrame = {
    val (run, _, _, _) = prefixed(df, nParts, max(value.cast("long")), ord,
      combine = math.max)
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // greatest skips nulls: null only when neither this partition's
    // preceding rows nor any earlier partition carried a value
    run
      .withColumn("__pmax", max(value.cast("long")).over(w))
      .withColumn(maxCol, greatest(col("__pmax"), col("__off")))
      .drop("__pid", "__off", "__pmax")
  }
}
