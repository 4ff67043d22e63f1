package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

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
  * Every shape is one aggregate over the same core: a rank is the
  * running count, a prefix sum the running sum, the exclusive prefix
  * max the running max one row short. The one-shot shapes (rank, NTILE,
  * prefix sum) finish on the driver while their rows fit the
  * `GlobalRank` [[DriverBound]] budget and fall back to the two-pass at
  * the session's shuffle width; the staged
  * prefix sum and the prefix max always run the two-pass at the
  * caller's width.
  *
  * The order must be TOTAL (pass a tie-breaking id last) or ranks
  * within equal keys are partition-placement-dependent.
  */
object GlobalRank {

  /** The two-pass core. Pass 1: range-partition + sort on `ord`,
    * checkpoint the run, collect one `agg` row per partition, and
    * broadcast the exclusive prefix of those values under `combine`
    * with SQL's null skipping (a partition whose aggregate is null
    * leaves the prefix as it was; `__off` is null until some earlier
    * partition carried a value). Pass 2: `agg` over each partition's
    * rows up to `frameEnd` (0 the current row, -1 the row before),
    * merged with the partition's offset by `merge`, in parallel.
    *
    * A caller-supplied `extra` per-partition aggregate rides the SAME
    * collect (summed across partitions) so iterated callers — the
    * suffix-array doubling rounds need the next live count — never pay
    * a separate action for a statistic this pass already visits every
    * row for (optimization r17, guide §1.2). Returns the finished
    * frame, the prefix over all partitions, the staged run's
    * [[Checkpoints.Token]] and the `extra` total.
    */
  private def twoPass(df: DataFrame, outCol: String, nParts: Int, agg: Column,
                      ord: Seq[Column], frameEnd: Long = Window.currentRow,
                      merge: (Column, Column) => Column = (off, p) => coalesce(off + p, off, p),
                      combine: (Long, Long) => Long = _ + _,
                      extra: Option[Column] = None)
      : (DataFrame, Long, Checkpoints.Token, Long) = {
    val (parted, token) = Checkpoints.eager(df
      .repartitionByRange(nParts, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__pid", spark_partition_id()))
    val aggs = Seq(agg.as("n")) ++ extra.map(_.cast("long").as("x"))
    val collected = parted.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
      .collect()
    val sizes = collected
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    val extraTotal =
      if (extra.isEmpty) 0L
      else collected.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
    val prefix = sizes.scanLeft(Option.empty[Long]) { case (acc, (_, n)) =>
      (acc ++ n).reduceOption(combine)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(sizes.map(_._1).zip(prefix.init).toSeq.toDF("__pid", "__off"))
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    (parted.join(offDf, Seq("__pid"))
      .withColumn(outCol, merge(col("__off"), agg.over(w)).cast("long"))
      .drop("__pid", "__off"), prefix.last.getOrElse(0L), token, extraTotal)
  }

  /** Driver bytes per row of the driver finish over `schema`: the
    * collected row (with the value column), the output row built from
    * it and the local relation's copy of that.
    */
  private[operators] def finishRowBytes(schema: StructType): Long =
    3L * DriverBound.rowBytes(schema.add("__grk_v", LongType))

  /** The one-shot shapes: `outCol` is the running count in `ord` order
    * (the 1-based global rank, non-nullable) when `value` is None, else
    * the running sum of `value` (nullable: null until the first
    * non-null value, then the sum of non-nulls so far — the window
    * form's semantics). Returns the frame and the row count.
    *
    * The relation is materialized once with the value as a column (the
    * two-pass's staging write, so its range sampler reads blocks), and
    * when the rows' [[finishRowBytes]] fit the `GlobalRank`
    * [[DriverBound]] the run is collected in `ord` order (per-partition
    * top-k: no sampler, no offsets pass, no window) and summed on the
    * driver (optimization r18).
    */
  private def running(df: DataFrame, outCol: String, value: Option[Column], ord: Seq[Column])
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    DriverBound("GlobalRank", spark) { sw =>
      val (mat, token, n) = sw.measure(
        Checkpoints.eagerCounted(df.withColumn("__grk_v", value.fold(lit(1L))(_.cast("long")))))
      val out = if (!sw.fits(n, n * finishRowBytes(df.schema))) {
        val nParts = spark.sessionState.conf.numShufflePartitions
        val v = col("__grk_v")
        (if (value.isEmpty) twoPass(mat, outCol, nParts, count(v), ord,
          merge = (off, p) => coalesce(off, lit(0L)) + p)
        else twoPass(mat, outCol, nParts, sum(v), ord))._1.drop("__grk_v")
      } else {
        val rows = mat.orderBy(ord: _*).limit(math.max(n, 1L).toInt).collect()
        val vi = mat.schema.fieldIndex("__grk_v")
        var seen = false
        var acc = 0L
        val summed = rows.toSeq.map { r =>
          if (!r.isNullAt(vi)) { acc += r.getLong(vi); seen = true }
          val out = if (seen) java.lang.Long.valueOf(acc) else null
          Row.fromSeq(r.toSeq.patch(vi, Nil, 1) :+ out)
        }
        spark.createDataFrame(summed.asJava,
          StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = value.nonEmpty)))
      }
      token.free() // the two-pass run's own eager checkpoint stands
      (out, n)
    }
  }

  /** Add `rankCol` (1-based global rank under `ord`) to `df`, and
    * return the total row count (callers deriving rank-relative cuts
    * like NTILE need it and should not pay another corpus action).
    */
  def withGlobalRank(df: DataFrame, rankCol: String, ord: Column*): (DataFrame, Long) =
    running(df, rankCol, None, ord)

  /** Add `ntileCol` — exactly SQL `NTILE(n) OVER (ORDER BY ord)` (the
    * first `total mod n` buckets get the extra row) — via the global
    * rank: no single-partition window. `ord` must be total.
    */
  def withGlobalNtile(df: DataFrame, ntileCol: String, n: Int, ord: Column*): DataFrame = {
    val (ranked, total) = running(df, "__grk", None, ord)
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
    * order).
    */
  def withGlobalPrefixSum(df: DataFrame, sumCol: String, value: Column,
                          ord: Column*): DataFrame =
    running(df, sumCol, Some(value), ord)._1

  /** [[withGlobalPrefixSum]] as the pure two-pass at `nParts` range
    * partitions, plus the total of the optional `extra` per-partition
    * statistic (0 without one) and the staged run's checkpoint token.
    * Iterated callers (the suffix-array doubling loop) read their
    * convergence statistic from `extra` instead of paying one more
    * full-relation action per round, and MUST free the token once their
    * round materializes, or every round's staging run stays in storage
    * memory until GC; one-shot callers leave it to the ContextCleaner.
    */
  def withGlobalPrefixSumStaged(df: DataFrame, sumCol: String, value: Column, nParts: Int,
                                extra: Option[Column], ord: Column*)
      : (DataFrame, Long, Checkpoints.Token) = {
    val (out, _, token, x) =
      twoPass(df, sumCol, nParts, sum(value.cast("long")), ord, extra = extra)
    (out, x, token)
  }

  /** Add `maxCol` — the running max of `value` over STRICTLY PRECEDING
    * rows in global `ord` order (≡ `MAX(value) OVER (ORDER BY ord ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`; null on the global
    * first row) — the two-pass at `nParts` range partitions. The
    * exclusive form is the one interval coalescing (gaps-and-islands
    * over sorted spans) needs: a row starts a new island iff its start
    * exceeds every EARLIER row's end.
    */
  def withGlobalPrefixMaxExcl(df: DataFrame, maxCol: String, value: Column,
                              nParts: Int, ord: Column*): DataFrame =
    // greatest skips nulls: null only when neither this partition's
    // preceding rows nor any earlier partition carried a value
    twoPass(df, maxCol, nParts, max(value.cast("long")), ord, frameEnd = -1L,
      merge = (off, p) => greatest(p, off), combine = math.max)._1
}
