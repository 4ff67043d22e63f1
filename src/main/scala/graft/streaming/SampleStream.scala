package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ONLINE weighted reservoir — the streaming twin of the r8 batch gate,
  * and the reason A-ES is THE weighted-sampling algorithm for streams:
  * the top-n-by-priority reduction is ASSOCIATIVE, so maintaining the
  * reservoir under arrivals is just `top-n(reservoir ∪ batch)` and the
  * result after any prefix of arrivals is EXACTLY the batch operator
  * ([[graft.operators.Sampling.weightedSample]]) over everything seen —
  * bit-identical, independent of how arrivals were batched
  * (`SampleStreamSpec` pins both, plus restart/replay).
  *
  * Scale shape: state is the reservoir itself — n rows per generation,
  * PARTITIONED BY batch and claimed by [[StateTables.claim]] (the house
  * idempotence discipline: a crash-replayed batch reads only
  * generations < its id and overwrites its own claim byte-identically).
  * Priorities are never stored: they are a pure hash function of
  * (id, weight), recomputed by the shared
  * [[graft.operators.Sampling.aesPriority]] expression — state stays
  * two columns and the stream cannot drift from the batch definition.
  */
object SampleStream {

  /** Start the reservoir stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      checkpoint: String,
      salt: String,
      n: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, salt, n)
    }

  /** One micro-batch: score the arrivals, union the latest reservoir
    * generation (< this batch id), keep the top n, claim the new
    * generation under this batch's partition.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      salt: String,
      n: Int): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    val arrivals = batch.select(
      col("doc_id"),
      graft.functions.Exprs.tokenCount(col("text")).cast("long").as("n_tokens"))
    val reservoir = StateTables.latest(StateTables.before(ss, stateTable, batchId))
      .select(col("doc_id"), col("n_tokens"))
    // checkpoint severs the claim's plan from the state-table scan —
    // a claim must not read its own target table
    // (n reservoir rows, the codebook class)
    val (claim, _) = graft.operators.Checkpoints.eager(
      graft.operators.Sampling.weightedSample(
        reservoir.unionByName(arrivals), "doc_id", "n_tokens", salt, n))
    StateTables.claim(stateTable, batchId, claim)
  }

  /** The current reservoir (latest generation). */
  def reservoir(spark: SparkSession, stateTable: String): DataFrame =
    StateTables.latest(spark.table(stateTable)).select(col("doc_id"), col("n_tokens"))

  // StateTables.ensure, never a delete-and-recreate: with a
  // non-persistent metastore a restarted JVM that lost its catalog must
  // RE-ADOPT the reservoir generations the parquet files still hold
  // (MSCK), not silently wipe them.
  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "doc_id BIGINT, n_tokens BIGINT, batch BIGINT")
}
