package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Scd2

/** Streaming SCD2: [[Scd2.applyChanges]] folded into a foreachBatch sink,
  * so a CDC change stream maintains a dimension history incrementally —
  * the streaming completion of the cdc1 batch path.
  *
  * History layout: parquet partitioned by `kb = pmod(xxhash64(key), n)`.
  * Each micro-batch touches ONLY the buckets its keys hash into: the
  * existing-history read is partition-pruned to those buckets and the
  * write dynamically overwrites just them — untouched buckets are never
  * read or rewritten, which is what makes the sink viable when the
  * history is 1000× a batch.
  *
  * Delivery contract: foreachBatch replays a batch after a crash, so the
  * merge must be idempotent. Replay protection is a null-safe anti-join
  * of the batch against already-recorded (key, time, attrs) rows — a
  * replayed batch reduces to an empty delta and the sink is a no-op. (A
  * legitimately re-sent change identical in key, time, AND every
  * attribute is indistinguishable from a replay and is absorbed — the
  * standard idempotent-upsert semantics.) Batches must arrive in
  * per-key time order across batches (the normal CDC case);
  * applyChanges raises its documented out-of-order error otherwise.
  */
object Scd2Stream {

  private def withBucket(df: DataFrame, key: String, n: Int): DataFrame =
    df.withColumn("kb", pmod(xxhash64(col(key)), lit(n.toLong)).cast("int"))

  /** Merge one change batch into the bucketed history at `historyRoot`.
    * Exposed (not just closed over) so specs can drive replay/idempotence
    * directly; the streaming sink calls exactly this.
    */
  def applyBatch(
      batch: DataFrame,
      historyRoot: String,
      key: String,
      timeMicros: String,
      tiebreaker: String,
      attrs: Seq[String],
      nBuckets: Int): Unit = {
    val ss = batch.sparkSession
    val logCols = col(key) +: col(timeMicros) +: col(tiebreaker) +: attrs.map(col)
    if (!StreamingIngest.rootExists(ss, historyRoot)) {
      withBucket(Scd2.fromLog(batch.select(logCols: _*), key, timeMicros, tiebreaker, attrs), key, nBuckets)
        .repartition(col("kb"))
        .write.partitionBy("kb").mode("overwrite").parquet(historyRoot)
      return
    }
    val affected = withBucket(batch.select(col(key)).distinct(), key, nBuckets)
      .select(col("kb")).distinct()
    // Partition-pruned existing history: only the batch's buckets.
    // localCheckpoint cuts lineage so the write below may overwrite the
    // very partitions this read came from (same idiom as toLakeMerged).
    val hist = ss.read.parquet(historyRoot)
      .join(broadcast(affected), Seq("kb"), "left_semi")
      .localCheckpoint(true)
    // Replay guard: a delta row whose (key, time, attrs) is already a
    // recorded version was applied by a previous (crashed-after-write)
    // attempt. Null-safe equality — attrs may be null.
    val histAsLog = hist.select(
      (col(key).as("__hk") +: col("valid_from").as("__ht") +:
        attrs.zipWithIndex.map { case (a, i) => col(a).as(s"__ha$i") }): _*)
    val freshCond = (col(key) === col("__hk")) && (col(timeMicros) === col("__ht")) &&
      attrs.zipWithIndex
        .map { case (a, i) => col(a) <=> col(s"__ha$i") }
        .foldLeft(lit(true))(_ && _)
    val fresh = batch.select(logCols: _*).join(histAsLog, freshCond, "left_anti")
    if (fresh.isEmpty) return
    val merged = Scd2.applyChanges(
      hist.drop("kb"), fresh, key, timeMicros, tiebreaker, attrs)
    withBucket(merged, key, nBuckets)
      .repartition(col("kb"))
      .write.partitionBy("kb").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(historyRoot)
  }

  /** Maintain the SCD2 history from a streaming change log. AvailableNow
    * = the daily CDC micro-batch cadence; exactly-once end-to-end via
    * the checkpoint plus the idempotent merge above.
    */
  def scd2Stream(
      changes: DataFrame,
      historyRoot: String,
      checkpoint: String,
      key: String,
      timeMicros: String,
      tiebreaker: String,
      attrs: Seq[String],
      nBuckets: Int = 16): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        applyBatch(batch, historyRoot, key, timeMicros, tiebreaker, attrs, nBuckets)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
