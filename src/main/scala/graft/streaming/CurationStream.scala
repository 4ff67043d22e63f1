package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.MinHashLSH
import graft.text.QualityModel

/** The composed ONLINE CURATION entry point — quality model →
  * near-dup admission → budget admission as ONE admit/reject decision
  * per arriving document. This is the capstone the curation tier
  * builds toward: the pieces (t26 quality filter, m10 online near-dup,
  * t25 budget admission) each have batch gates and streaming twins;
  * this operator chains them so a document arriving at ingestion time
  * gets exactly one decision with a reason (reference analog: the
  * daily incremental contract, `etl/extract.py:299-344` →
  * `etl/load.py:162-224`, applied to curation).
  *
  * Pipeline semantics (one definition, [[batchCuration]], shared by
  * both twins):
  *   1. QUALITY — the t26 linear model scores every arrival; docs at
  *      score ≤ 0 are rejected (`reject_quality`) and never enter any
  *      downstream state: they are not indexed for dedup and do not
  *      consume budget.
  *   2. NEAR-DUP — quality-passing docs are MinHash-banded and probed
  *      against every EARLIER quality-passing doc (all of history);
  *      a bucket mate with ≥ minMatches equal signature components
  *      rejects the arrival (`reject_near_dup`, with `dup_of` = the
  *      smallest such earlier id). Dup-rejected docs still index into
  *      dedup state (so a 3rd copy dedups against the 1st, matching
  *      the m10 pair semantics) but do not consume budget.
  *   3. BUDGET — surviving docs consume their domain's token budget
  *      in arrival order; once a domain's running total crosses the
  *      budget the domain is closed (`reject_budget`), the t25
  *      prefix-truncation semantics over stage-3 entrants only.
  *
  * Equivalence contract: when drops arrive in `doc_id` order the
  * accumulated stream output is row-identical to [[batchCuration]]
  * over the full corpus — `CurationStreamSpec` pins it across a
  * restart and a replayed batch.
  *
  * Scale shape — no new shuffle beyond the three components' own:
  * quality is a per-doc fold riding the scan (zero shuffle); dedup
  * state is one row per (quality-passed doc, band), bucketed by band
  * value so the probe join reads state without re-shuffling it;
  * budget state is one row per (domain, batch). Both state tables use
  * the [[StateTables]] discipline: PARTITIONED BY batch + per-batch
  * claims = byte-idempotent crash replay, and MSCK-based
  * re-adoption of state data across JVM restarts.
  */
object CurationStream {

  /** Gate-pinned defaults (t29): the t26 model shape with the
    * curation-balanced salt, the m10 LSH geometry, the t25 budget.
    */
  val NumBuckets = 4096
  val Salt = "cur3"
  val ShingleSize = 3
  val NumHashes = 8
  val RowsPerBand = 2
  val MinMatches = 4

  private def tokens(text: Column): Column = graft.functions.Exprs.tokenCount(text)

  /** The one curation definition both twins answer: per document, the
    * first stage that rejects it, else `admitted`. Columns:
    * (doc_id, source, n_tokens, score, decision, dup_of, cum_tokens)
    * — `dup_of` only for near-dup rejects, `cum_tokens` only for docs
    * that reached the budget stage.
    */
  def batchCuration(docs: DataFrame, budget: Long): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("source"), col("text"),
      tokens(col("text")).as("n_tokens"),
      QualityModel.score(col("text"), NumBuckets, Salt).as("score"))
    val qpass = base.filter(col("score") > 0)
    val sig = MinHashLSH.signatures(qpass, "doc_id", "text", ShingleSize, NumHashes)
    val dups = MinHashLSH.candidatePairs(sig, "doc_id", NumHashes, RowsPerBand)
      // matches/NumHashes — eighths are exact dyadic doubles, so the
      // 0.5 compare is the integer matches >= MinMatches test (m10)
      .filter(col("est_jaccard") >= MinMatches.toDouble / NumHashes)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .select(col("id_b").as("doc_id"), col("dup_of"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val stage3 = qpass
      .join(dups, Seq("doc_id"), "left_outer")
      .filter(col("dup_of").isNull)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
    base
      .join(dups, Seq("doc_id"), "left_outer")
      .join(stage3.select(col("doc_id"), col("cum_tokens")), Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("score").cast("long").as("score"),
        when(col("score") <= 0, "reject_quality")
          .when(col("dup_of").isNotNull, "reject_near_dup")
          .when(col("cum_tokens") <= budget, "admitted")
          .otherwise("reject_budget").as("decision"),
        col("dup_of"),
        col("cum_tokens"))
  }

  /** Start the composed curation stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      dedupStateTable: String,
      budgetStateTable: String,
      outDir: String,
      checkpoint: String,
      budget: Long): StreamingQuery =
    Drops.start(spark, dropDir, Drops.sourcedDocs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, dedupStateTable, budgetStateTable, outDir, budget)
    }

  /** One micro-batch: score quality, probe + claim dedup state over
    * the quality-passed docs, then admit survivors against the budget
    * state — one decision row per arriving doc.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      dedupStateTable: String,
      budgetStateTable: String,
      outDir: String,
      budget: Long): Unit = {
    val ss = batch.sparkSession
    StateTables.ensure(ss, dedupStateTable,
      "doc_id BIGINT, band INT, v0 BIGINT, v1 BIGINT, sig ARRAY<BIGINT>, batch BIGINT",
      "CLUSTERED BY (v0) SORTED BY (v0) INTO 16 BUCKETS")
    StateTables.ensure(ss, budgetStateTable,
      "source STRING, seen_tokens BIGINT, batch BIGINT")

    // Stage 1 — quality. localCheckpoint: feeds every later stage and
    // the drop file may be gone on a crash replay.
    val scored = batch.select(
        col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("n_tokens"),
        QualityModel.score(col("text"), NumBuckets, Salt).as("score"))
      .localCheckpoint(true)
    val qpass = scored.filter(col("score") > 0)

    // Stage 2 — near-dup over quality-passed docs (NearDupStream's
    // probe + claim, scoped to the quality-passed population).
    val banded = NearDupStream.bandedRows(qpass, NumHashes, RowsPerBand)
    val dups = NearDupStream.earlierMates(banded, dedupStateTable, batchId, MinMatches)
      .localCheckpoint(true)
    StateTables.claim(dedupStateTable, batchId, banded)

    // Stage 3 — budget over survivors (BudgetStream's base + claim,
    // fed by stage-3 entrants only).
    val stage3 = qpass
      .join(dups, Seq("doc_id"), "left_outer")
      .filter(col("dup_of").isNull)
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val budgetBase = StateTables.before(ss, budgetStateTable, batchId)
      .groupBy(col("source"))
      .agg(sum(col("seen_tokens")).as("base_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val cums = stage3
      .withColumn("batch_cum", sum(col("n_tokens")).over(w))
      .join(broadcast(budgetBase), Seq("source"), "left_outer")
      .withColumn("cum_tokens",
        (col("batch_cum") + coalesce(col("base_tokens"), lit(0L))).cast("long"))
      .select(col("doc_id"), col("cum_tokens"))
    StateTables.claim(budgetStateTable, batchId, stage3.groupBy(col("source"))
      .agg(sum(col("n_tokens")).cast("long").as("seen_tokens")))

    // One decision row per arriving doc.
    val decisions = scored
      .join(dups, Seq("doc_id"), "left_outer")
      .join(cums, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("score").cast("long").as("score"),
        when(col("score") <= 0, "reject_quality")
          .when(col("dup_of").isNotNull, "reject_near_dup")
          .when(col("cum_tokens") <= budget, "admitted")
          .otherwise("reject_budget").as("decision"),
        col("dup_of"),
        col("cum_tokens"))
    decisions.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Accumulated stream output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("score"),
        col("decision"), col("dup_of"), col("cum_tokens"))
}
