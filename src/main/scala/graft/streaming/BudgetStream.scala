package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ONLINE token-budget admission — the streaming twin of the t25 batch
  * gate: documents arrive as JSONL drops in `doc_id` order and each is
  * admitted iff its domain's running token total (over every arrival
  * SEEN so far, admitted or not — the prefix-truncation semantics of
  * [[graft.operators.MixtureSampling]]) stays within budget. This is
  * the ingestion-time shape of mixture composition: once a domain's
  * budget is crossed the domain is closed, with no re-scan of history.
  *
  * Equivalence contract: arrival order = `doc_id` order, so the
  * accumulated stream output is row-identical to
  * [[batchAdmission]] over the same corpus — both sides share that one
  * definition (`BudgetStreamSpec` asserts equality across a restart
  * and a replayed batch).
  *
  * Scale shape: state is ONE ROW PER (domain, batch) — the tokens seen
  * by that batch — so the state table is tiny forever (domains ×
  * batches), the per-batch base is a partial-agg sum over it, and the
  * within-batch running sum windows only the batch. State is
  * PARTITIONED BY batch and claimed by [[StateTables.claim]], so a
  * crash-replayed batch re-derives the identical base (batch < id
  * partitions only) and overwrites its own claim — byte-idempotent,
  * the NearDupStream discipline.
  */
object BudgetStream {

  private def tokens(text: Column): Column = graft.functions.Exprs.tokenCount(text)

  /** The one admission definition both twins answer: keep docs whose
    * per-domain running token total in `doc_id` order fits the budget.
    */
  def batchAdmission(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("cum_tokens"))
  }

  /** Start the admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      budget: Long): StreamingQuery =
    Drops.start(spark, dropDir, Drops.sourcedDocs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir, budget)
    }

  /** One micro-batch: per-domain base from prior batches' state rows,
    * within-batch running sum, admit under budget, claim this batch's
    * per-domain token totals into state.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String,
      budget: Long): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)

    // Drop files may be gone on a later replay; the batch feeds the
    // output write and the state claim.
    val toks = batch
      .select(col("doc_id"), col("source"), tokens(col("text")).as("n_tokens"))
      .localCheckpoint(true)

    val base = StateTables.before(ss, stateTable, batchId)
      .groupBy(col("source"))
      .agg(sum(col("seen_tokens")).as("base_tokens"))

    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val admitted = toks
      .withColumn("batch_cum", sum(col("n_tokens")).over(w))
      .join(broadcast(base), Seq("source"), "left_outer")
      .withColumn("cum_tokens",
        (col("batch_cum") + coalesce(col("base_tokens"), lit(0L))).cast("long"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("cum_tokens"))

    admitted.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    StateTables.claim(stateTable, batchId, toks.groupBy(col("source"))
      .agg(sum(col("n_tokens")).cast("long").as("seen_tokens")))
  }

  /** Accumulated stream output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))

  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name,
      "source STRING, seen_tokens BIGINT, batch BIGINT")
}
