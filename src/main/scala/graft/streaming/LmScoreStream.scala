package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.NgramLm

/** STREAMING twin of the t33 LM-perplexity pass: a trigram LM trained
  * offline on the trusted slice is FROZEN into a state table, and
  * every arriving document is scored against it at ingestion time —
  * the CCNet filter applied the way a production pipeline actually
  * runs it (train the LM once a refresh cycle; score the firehose).
  *
  * The decision is stateless given the frozen LM — admit iff the
  * per-token average perplexity clears a threshold, compared in exact
  * integers (`score_micro ≤ thresholdMicro · n_toks`, the t26
  * cross-multiplication trick) — so stream ≡ batch holds batch-wise
  * with no cross-arrival state at all. What IS stateful is the model:
  * the tagged (kind, t1, t2, t3, c) count table lives under the
  * [[StateTables]] discipline (partition `batch=0`, a [[StateTables.claim]]
  * = idempotent refreeze, MSCK re-adoption), so a restarted JVM
  * re-adopts the frozen LM instead of silently scoring against an
  * empty model — the same over-admit hazard class the budget state
  * tables close.
  *
  * Scale shape: identical to the batch gate — the LM is vocab-bounded
  * and broadcast; scoring rides the micro-batch scan.
  */
object LmScoreStream {

  /** Train on the reference slice and freeze the tagged count table
    * plus the (nTokens, vocab) scalars into `lmTable` (kind 0 row).
    * Idempotent: refreezing overwrites the single `batch=0` claim.
    */
  def freezeLm(spark: SparkSession, ref: DataFrame, idCol: String,
               textCol: String, lmTable: String): Unit = {
    ensureLmTable(spark, lmTable)
    StateTables.claim(lmTable, 0L, lmRows(spark, NgramLm.train(ref, idCol, textCol)))
  }

  /** Re-hydrate the frozen LM (a restarted JVM re-adopts the table via
    * [[StateTables.ensure]]'s MSCK path first).
    */
  def loadLm(spark: SparkSession, lmTable: String): NgramLm.Lm = {
    ensureLmTable(spark, lmTable)
    lmOf(spark.table(lmTable))
  }

  /** An LM as tagged `(kind, t1, t2, t3, c)` rows: kind 1–3 the n-gram
    * counts, kind 0 the (nTokens, vocab) scalars. Shared with
    * [[DsirStream]], which freezes two LMs side by side.
    */
  private[streaming] def lmRows(spark: SparkSession, lm: NgramLm.Lm): DataFrame = {
    val nullTok = lit(null).cast("string")
    lm.uni.select(lit(1).as("kind"), col("tok").as("t1"),
        nullTok.as("t2"), nullTok.as("t3"), col("c"))
      .unionByName(lm.bi.select(lit(2).as("kind"), col("t1"), col("t2"),
        nullTok.as("t3"), col("c")))
      .unionByName(lm.tri.select(lit(3).as("kind"), col("t1"), col("t2"),
        col("t3"), col("c")))
      .unionByName(spark.range(1).select(lit(0).as("kind"),
        lit(lm.nTokens.toString).as("t1"), lit(lm.vocab.toString).as("t2"),
        nullTok.as("t3"), lit(0L).as("c")))
  }

  /** The LM that [[lmRows]] froze into `counts`. */
  private[streaming] def lmOf(counts: DataFrame): NgramLm.Lm = {
    val scalars = counts.where(col("kind") === 0)
      .select(col("t1"), col("t2")).head()
    NgramLm.Lm(
      uni = counts.where(col("kind") === 1).select(col("t1").as("tok"), col("c")),
      bi = counts.where(col("kind") === 2).select(col("t1"), col("t2"), col("c")),
      tri = counts.where(col("kind") === 3)
        .select(col("t1"), col("t2"), col("t3"), col("c")),
      nTokens = scalars.getString(0).toLong,
      vocab = scalars.getString(1).toLong)
  }

  /** The one scoring definition both twins answer: t33's per-doc
    * integer scores plus the threshold decision
    * (admit iff score_micro ≤ thresholdMicro · n_toks).
    */
  def batchScores(docs: DataFrame, lm: NgramLm.Lm,
                  thresholdMicro: Long): DataFrame =
    NgramLm.scoreDocs(docs, lm, "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("score_micro"),
        col("n_tri"), col("n_bi"), col("n_uni"),
        when(col("score_micro") <= col("n_toks") * thresholdMicro, "admitted")
          .otherwise("reject_perplexity").as("decision"))

  /** Score a JSONL drop dir against the frozen LM, one output file
    * tree per micro-batch (idempotent overwrite per batch).
    */
  def run(
      spark: SparkSession,
      dropDir: String,
      lmTable: String,
      outDir: String,
      checkpoint: String,
      thresholdMicro: Long): StreamingQuery =
    Drops.start(spark, dropDir, Drops.sourcedDocs, checkpoint) { (batch, batchId) =>
      batchScores(batch, loadLm(batch.sparkSession, lmTable), thresholdMicro)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Accumulated stream output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_toks"), col("score_micro"),
        col("n_tri"), col("n_bi"), col("n_uni"), col("decision"))

  private def ensureLmTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name,
      "kind INT, t1 STRING, t2 STRING, t3 STRING, c BIGINT, batch BIGINT")
}
