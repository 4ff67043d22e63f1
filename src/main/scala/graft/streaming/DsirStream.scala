package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.NgramLm

/** DSIR AT INGESTION — the streaming twin of the t34 batch gate
  * ([[graft.text.NgramLm.importanceSelection]]): TWO trigram LMs are
  * trained offline — one on the trusted target slice, one on the raw
  * pool — FROZEN together into one state table, and every arriving
  * document is scored under both in ONE pass
  * ([[graft.text.NgramLm.scoreDocsDual]]'s fused scan), gated on the
  * importance log-ratio, and admitted against a running token budget.
  * This is how production runs DSIR: the offline pass (t34) ranks a
  * frozen pool once and notes the log-ratio at its budget boundary;
  * ingestion then admits arrivals above that ratio while the refresh
  * cycle's budget lasts.
  *
  * Decision semantics (one definition, [[batchSelection]], shared by
  * both twins):
  *   1. RATIO — docs whose `logratio_micro = score_raw − score_tgt`
  *      (exact integer micro-nats) falls below `minLogratioMicro` are
  *      rejected (`reject_ratio`) and never consume budget;
  *   2. BUDGET — ratio-passing docs consume the global token budget
  *      in arrival (`doc_id`) order; once the running total crosses
  *      `budgetToks` later docs are rejected (`reject_budget`) but
  *      still count toward the total — t25's prefix-truncation
  *      semantics over stage-2 entrants.
  *
  * Equivalence contracts (`DsirStreamSpec`): when drops arrive in
  * `doc_id` order the accumulated stream output is row-identical to
  * [[batchSelection]] over the same arrival prefix, across a restart
  * and a crash-replayed batch; and when arrivals come in t34's own
  * (log-ratio DESC, doc_id) order with `minLogratioMicro` set to the
  * offline cut's boundary ratio, the stream's admitted set IS t34's
  * kept set — the twin reproduces the batch selection exactly.
  *
  * Scale shape: both LM count tables are vocab-bounded broadcasts and
  * scoring rides the micro-batch scan (the same fused ten-join plan
  * as t34 — a second scoring pass would be a second 100 TB read).
  * Budget state is ONE ROW PER BATCH (the batch's ratio-passing token
  * total), partitioned by batch and claimed by [[StateTables.claim]] —
  * byte-idempotent crash replay, and the running cut inside a batch
  * is [[graft.operators.GlobalRank.withGlobalPrefixSum]] (a driver
  * finish under its bound, the two-pass over it: no single-partition
  * window anywhere). The LM table follows the [[StateTables]]
  * discipline (partition `batch=0`, idempotent refreeze, MSCK
  * re-adoption across JVMs), with an `lm` discriminator column
  * distinguishing target (0) from raw (1).
  */
object DsirStream {

  /** Train both LMs on the reference pool (target = `targetSource`
    * slice, raw = the whole pool) and freeze them into `lmTable` under
    * one `batch=0` claim. Idempotent: refreezing overwrites.
    */
  def freezeLms(spark: SparkSession, pool: DataFrame, idCol: String,
                textCol: String, sourceCol: String, targetSource: String,
                lmTable: String): Unit = {
    ensureLmTable(spark, lmTable)
    val (lmT, lmR) =
      NgramLm.trainDual(pool, idCol, textCol, col(sourceCol) === targetSource)
    StateTables.claim(lmTable, 0L,
      LmScoreStream.lmRows(spark, lmT).withColumn("lm", lit(0))
        .unionByName(LmScoreStream.lmRows(spark, lmR).withColumn("lm", lit(1))))
  }

  /** Re-hydrate both frozen LMs: `(target, raw)`. */
  def loadLms(spark: SparkSession, lmTable: String): (NgramLm.Lm, NgramLm.Lm) = {
    ensureLmTable(spark, lmTable)
    def one(tag: Int) = LmScoreStream.lmOf(spark.table(lmTable).where(col("lm") === tag))
    (one(0), one(1))
  }

  /** The one selection definition both twins answer: per document the
    * dual scores, the log-ratio, and the first stage that rejects it,
    * else `admitted`. `cum_toks` only for ratio-passing docs.
    */
  def batchSelection(docs: DataFrame, lmT: NgramLm.Lm, lmR: NgramLm.Lm,
                     minLogratioMicro: Long, budgetToks: Long): DataFrame =
    batchSelection(docs, lmT, lmR, minLogratioMicro, budgetToks, baseToks = 0L)

  private def batchSelection(docs: DataFrame, lmT: NgramLm.Lm, lmR: NgramLm.Lm,
                             minLogratioMicro: Long, budgetToks: Long,
                             baseToks: Long): DataFrame = {
    val scored = NgramLm.scoreDocsDual(docs, lmT, lmR, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("logratio_micro",
        (col("score_raw_micro") - col("score_tgt_micro")).cast("long"))
    val pass = scored.filter(col("logratio_micro") >= minLogratioMicro)
    val cum = graft.operators.GlobalRank
      .withGlobalPrefixSum(pass, "batch_cum", col("n_toks"), col("doc_id"))
      .select(col("doc_id"), (col("batch_cum") + baseToks).as("cum_toks"))
    scored
      .join(cum, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("source"), col("n_toks").cast("long").as("n_toks"),
        col("score_tgt_micro").cast("long").as("score_tgt_micro"),
        col("score_raw_micro").cast("long").as("score_raw_micro"),
        col("logratio_micro"),
        when(col("logratio_micro") < minLogratioMicro, "reject_ratio")
          .when(col("cum_toks") <= budgetToks, "admitted")
          .otherwise("reject_budget").as("decision"),
        col("cum_toks"))
  }

  /** Start the DSIR admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      lmTable: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      minLogratioMicro: Long,
      budgetToks: Long): StreamingQuery =
    Drops.start(spark, dropDir, Drops.sourcedDocs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, lmTable, stateTable, outDir,
        minLogratioMicro, budgetToks)
    }

  /** One micro-batch: dual-score against the frozen LMs, ratio gate,
    * budget base from prior batches' state rows, within-batch running
    * sum, claim this batch's ratio-passing token total.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      lmTable: String,
      stateTable: String,
      outDir: String,
      minLogratioMicro: Long,
      budgetToks: Long): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    val (lmT, lmR) = loadLms(ss, lmTable)
    // drop files may be gone on a later replay; the batch feeds both
    // the output write and the state claim
    val docs = batch.select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val baseToks = StateTables.before(ss, stateTable, batchId)
      .agg(coalesce(sum(col("seen_tokens")), lit(0L))).head().getLong(0)
    val out = batchSelection(docs, lmT, lmR, minLogratioMicro, budgetToks, baseToks)
      .localCheckpoint(true)
    out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    StateTables.claim(stateTable, batchId, out.where(col("decision") =!= "reject_ratio")
      .agg(coalesce(sum(col("n_toks")), lit(0L)).as("seen_tokens")))
  }

  /** Accumulated stream output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("score_tgt_micro"), col("score_raw_micro"), col("logratio_micro"),
        col("decision"), col("cum_toks"))

  private def ensureLmTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name,
      "lm INT, kind INT, t1 STRING, t2 STRING, t3 STRING, c BIGINT, batch BIGINT")

  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "seen_tokens BIGINT, batch BIGINT")
}
