package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pos.{Analytics, Lake, Schemas, Transform}

/** §2.12 — the reference's incremental contract re-platformed on
  * Structured Streaming: a replayable raw-zone drop directory (JSONL
  * receipt documents) replaces the REST API, and checkpointing replaces
  * the JSON watermark file.
  *
  * Semantics preserved:
  *   - at-least-once ingest + read-side dedup stays the default (the
  *     lake keeps V1 as its exactly-once restore), and
  *     `dropDuplicatesWithinWatermark` offers the in-stream alternative;
  *   - `Trigger.AvailableNow` = the daily micro-batch: process whatever
  *     has arrived, then stop — exactly the Airflow daily cadence.
  *
  * Scale: file-source streaming partitions by arriving files;
  * `maxFilesPerTrigger` bounds batch size; the transform chain is the
  * same narrow `Transform.run` plan as batch (no separate code path).
  */
object StreamingIngest {

  /** Raw receipts stream from a drop directory (JSONL, schema-on-read). */
  def rawStream(spark: SparkSession, dropDir: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(Schemas.rawReceipt)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dropDir)

  /** Raw stream with corrupt-record capture: malformed JSONL lines land
    * in `_corrupt_record` instead of silently vanishing (PERMISSIVE
    * default drops them once columns are pruned). Callers split on
    * `_corrupt_record IS NULL` → good rows to the lake, bad lines to a
    * quarantine sink for replay/alerting — at 100 TB silent drops are
    * data-loss incidents, not noise.
    */
  def rawStreamWithCorrupt(
      spark: SparkSession,
      dropDir: String,
      maxFilesPerTrigger: Int = 100): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.rawReceipt.fields :+
        org.apache.spark.sql.types.StructField(
          "_corrupt_record", org.apache.spark.sql.types.StringType))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dropDir)
  }

  /** Curated + quarantine twin streams from one drop directory: returns
    * (toLake query, quarantine query). Exactly-once on both via their
    * checkpoints.
    */
  def toLakeWithQuarantine(
      spark: SparkSession,
      dropDir: String,
      lakeRoot: String,
      quarantineDir: String,
      checkpointRoot: String): (StreamingQuery, StreamingQuery) = {
    val raw = rawStreamWithCorrupt(spark, dropDir)
    val good = Transform.run(
      raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record"))
    val lakeQ = Lake.appendStream(good, lakeRoot)
      .option("checkpointLocation", s"$checkpointRoot/lake")
      .trigger(Trigger.AvailableNow())
      .start()
    // Spark rejects queries referencing ONLY _corrupt_record from a raw
    // JSON source — project a real column alongside it.
    val badQ = raw
      .select(col("_corrupt_record").as("line"), col("receipt_number"))
      .filter(col("line").isNotNull)
      .writeStream
      .format("json")
      .option("path", quarantineDir)
      .option("checkpointLocation", s"$checkpointRoot/quarantine")
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .start()
    (lakeQ, badQ)
  }

  /** Curated append stream into the partitioned lake: raw → flatten →
    * homogenize → time slots → the lake's layout ([[Lake.appendStream]]),
    * exactly-once via the checkpoint (file-source offsets + file-sink
    * log).
    */
  def toLake(
      spark: SparkSession,
      dropDir: String,
      lakeRoot: String,
      checkpoint: String): StreamingQuery =
    Lake.appendStream(Transform.run(rawStream(spark, dropDir)), lakeRoot)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous merge-upsert into the lake via foreachBatch — the
    * streaming form of the K5(b) compaction: each micro-batch is
    * unioned with the existing rows of ONLY its affected months
    * (left-semi prune), deduplicated (newest wins), and dynamically
    * overwrites just those partitions.
    *
    * Delivery contract: foreachBatch replays a batch after a crash, so
    * the sink must be idempotent — and this merge is: re-running the
    * union+dedup+overwrite of the same batch yields byte-identical
    * partitions. The existing-rows read is `localCheckpoint`ed to cut
    * its lineage; otherwise the write plan would read the same path it
    * overwrites, which Spark rejects.
    */
  def toLakeMerged(
      spark: SparkSession,
      dropDir: String,
      lakeRoot: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 100): StreamingQuery = {
    val curated = Lake.prepared(Transform.run(rawStream(spark, dropDir, maxFilesPerTrigger)))
    curated.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val ss = batch.sparkSession
        val combined =
          if (!rootExists(ss, lakeRoot)) batch
          else {
            val affected = batch.select("year", "month").distinct()
            val existing = Lake.read(ss, lakeRoot)
              .join(broadcast(affected), Seq("year", "month"), "left_semi")
              .localCheckpoint(true)
            batch.unionByName(existing)
          }
        // Deterministic tiebreakers (same as the P19 read-side dedup):
        // two rows tying on (receipt_number, item_name, shifted_time) —
        // e.g. a correction re-sent with the same timestamp — would
        // otherwise get an arbitrary winner, breaking the
        // byte-identical-replay contract across Spark versions. The
        // agg form pre-reduces duplicates map-side before the
        // exchange — the right shape when a batch replays old months.
        Lake.overwriteMonths(
          Analytics.dedupLatestAgg(combined, Seq(col("price"), coalesce(col("modifiers"), lit("")))),
          lakeRoot)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Whether a merging sink's root exists, asked of the root's own
    * Hadoop `FileSystem`: `java.io.File` sees only bare local paths, so a
    * `file:`, `s3a:` or `hdfs:` root would read as absent, and the sink
    * would overwrite every partition its batch touches with the batch
    * alone. [[toLakeMerged]] and [[Scd2Stream.applyBatch]] share it.
    */
  private[streaming] def rootExists(spark: SparkSession, root: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(root)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** In-stream exactly-once variant: drop late duplicate receipts by
    * (receipt_number, item_name) within the event-time watermark —
    * the streaming analog of the V1 read-side window.
    */
  def dedupedStream(raw: DataFrame, watermarkDelay: String = "1 day"): DataFrame =
    Transform.run(raw)
      .withWatermark("datetime", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("receipt_number", "item_name"))

  /** Event-time windowed revenue: tumbling window + watermark — the
    * streaming form of the time-slot aggregation (A10), for live
    * dashboards over the same curated stream.
    */
  def windowedRevenue(
      curated: DataFrame,
      window_ : String = "1 hour",
      watermarkDelay: String = "1 day"): DataFrame =
    curated
      .withWatermark("datetime", watermarkDelay)
      .groupBy(window(col("datetime"), window_))
      .agg(
        sum(col("total_money")).as("revenue"),
        approx_count_distinct(col("receipt_number")).as("approx_receipts"))
}
