package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.QualityModel

/** STREAMING lifecycle of the DISTILLED quality model — the twin that
  * completes t40's train → store → serve loop the way production runs
  * it: the pocket-perceptron weights are trained offline
  * ([[retrainCompact]]), FROZEN into a generation-partitioned state
  * table, and every arriving document is scored at ingestion through
  * the same zero-shuffle fold the t40b gate serves
  * ([[QualityModel.classifyWithModel]]); arrivals accumulate with
  * their heuristic labels so the next retrain generation learns from
  * everything seen — the [[GraphIndexStream]] / [[SaDedupStream]]
  * two-mode contract applied to a MODEL instead of an index.
  *
  * Exactness contract (spec-pinned): admission under a fixed frozen
  * generation is byte-idempotent and ≡ the batch
  * `classifyWithModel` over the same arrivals (shared definition);
  * [[retrainCompact]] over the accumulated corpus IS the batch
  * trainer (`QualityModel.train`), and the state round trip
  * (weights → table → [[loadWeights]]) is lossless. A replay AFTER a
  * retrain re-scores with the newer generation — the LmScoreStream
  * refreeze semantics, deliberate: the model table is a rolling
  * artifact, not an event log.
  *
  * Scale shape: scoring rides the micro-batch scan (the weights are
  * ≤ numBuckets+1 rows — broadcast class); retraining is the measured
  * flat-wall epoch loop (PLANS.md extension stress row), amortized
  * over its window.
  */
object DistillStream {

  /** The heuristic ±1 label the distillation learns (t40's teacher):
    * shared by admission-time accumulation and the batch references.
    */
  def label(textCol: String): org.apache.spark.sql.Column = {
    val nStop = size(filter(split(col(textCol), " "),
      x => x === "the" || x === "a")).cast("long")
    val nTok = graft.functions.Exprs.tokenCount(col(textCol))
    when(nTok >= 30 && nStop * 5 < nTok, 1L).otherwise(-1L)
  }

  /** Train generation `rebuildId` on a labelled corpus and freeze it
    * into the state table (a claim of its partition —
    * idempotent refreeze). Returns the trained weights.
    */
  def retrainCompact(
      spark: SparkSession,
      labeled: DataFrame,
      weightsTable: String,
      rebuildId: Long,
      numBuckets: Int,
      epochs: Int): Array[Long] = {
    ensureWeightsTable(spark, weightsTable)
    val w = QualityModel.train(labeled, "doc_id", "text", "y", numBuckets, epochs)
    StateTables.claim(weightsTable, rebuildId, QualityModel.weightsTable(spark, w))
    w
  }

  /** Latest frozen generation as the dense weight array
    * [[QualityModel.classifyWithModel]] folds with.
    */
  def loadWeights(spark: SparkSession, weightsTable: String,
                  numBuckets: Int): Array[Long] = {
    val rows = StateTables.latest(spark.table(weightsTable))
      .select(col("bucket").cast("long"), col("weight").cast("long")).collect()
    require(rows.nonEmpty, "DistillStream: no frozen generation — run retrainCompact first")
    val w = Array.fill(numBuckets + 1)(0L)
    rows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }

  /** Start the scoring stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      weightsTable: String,
      arrivalsDir: String,
      outDir: String,
      checkpoint: String,
      numBuckets: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, weightsTable, arrivalsDir, outDir, numBuckets)
    }

  /** One micro-batch: score against the frozen generation, persist the
    * decisions and the labelled arrivals (both overwritten per
    * batch — idempotent under a fixed generation).
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      weightsTable: String,
      arrivalsDir: String,
      outDir: String,
      numBuckets: Int): Unit = {
    val ss = batch.sparkSession
    val docs = graft.operators.Checkpoints.eager(
      batch.select(col("doc_id"), col("text")))._1
    val w = loadWeights(ss, weightsTable, numBuckets)
    QualityModel
      .classifyWithModel(docs, "doc_id", "text", numBuckets,
        QualityModel.weightsTable(ss, w))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    docs.select(col("doc_id"), col("text"), label("text").as("y"))
      .write.mode("overwrite").parquet(s"$arrivalsDir/batch=$batchId")
  }

  /** Accumulated labelled arrivals — the next retrain's corpus
    * (optionally unioned with the bootstrap corpus by the caller).
    */
  def arrivals(spark: SparkSession, arrivalsDir: String): DataFrame =
    spark.read.parquet(arrivalsDir).select(col("doc_id"), col("text"), col("y"))

  /** Accumulated scoring decisions. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  // StateTables.ensure, never a delete-and-recreate: a restarted JVM
  // with a lost (in-memory) catalog must re-adopt the frozen weight
  // generations still on disk, not wipe the model state it is about to
  // serve from.
  private def ensureWeightsTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "bucket BIGINT, weight BIGINT, batch BIGINT")
}
