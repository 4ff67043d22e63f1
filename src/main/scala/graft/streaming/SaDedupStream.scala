package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.SuffixArray

/** Incremental EXACT-SUBSTRING dedup — the streaming twin of the
  * sa4 batch gate (Lee et al. 2022's variable-length span removal),
  * completing the last dedup tier without a stream ≡ batch discipline.
  * A production pipeline cannot rebuild the corpus suffix array per
  * arriving document; it runs the two-mode loop this object provides:
  *
  *   - **Per-batch ADMISSION** ([[processBatch]]): each arriving
  *     document is checked against the FROZEN corpus state — the
  *     md5 fingerprint of every `minLen`-codepoint window of the
  *     last rebuild's cleaned corpus. Sharing a substring of length
  *     ≥ `minLen` is EXACTLY sharing one of these windows, so the
  *     admission cut (union of the arrival's matched windows, merged,
  *     complemented per doc — [[SuffixArray.cutCoveredPositions]], the
  *     same removal tail as the batch path) removes precisely the
  *     arrival-side copy of every span the frozen corpus already
  *     contains, modulo md5 collision (the t15/t17 fingerprint
  *     standard). No state is written at admission.
  *   - **Periodic REBUILD compaction** ([[rebuildCompact]], the
  *     `AnnIndexStream.rebalanceCompact` pattern): the full batch SA
  *     dedup ([[SuffixArray.removeDuplicatedSpans]]) over the raw
  *     corpus read back from the durable drop source, rewriting the
  *     cleaned corpus and regenerating the window-fingerprint state
  *     under one rebuild-keyed partition.
  *
  * EXACTNESS CONTRACT between rebuilds (spec-pinned,
  * `SaDedupStreamSpec`): arrivals duplicating FROZEN-corpus spans are
  * caught at admission, bit-identically across a restart and a
  * crash-replayed batch; arrivals duplicating EACH OTHER (intra- or
  * inter-batch repeats the frozen state has never seen) pass admission
  * and are caught at the next rebuild — whose output is exactly the
  * batch operator over the accumulated corpus, erasing any
  * stream-vs-batch drift. Between rebuilds the corpus therefore
  * over-retains at most the arrival-vs-arrival duplicates, never
  * under-retains.
  *
  * Scale shape: the state table is one 32-byte row per distinct
  * cleaned-corpus window — corpus-scale — so it is h-BUCKETED
  * (16 buckets, sorted; the t22/SegmentDedupStream discipline): the
  * tiny batch side repartitions to the bucket count and the state
  * never re-shuffles. State is PARTITIONED BY rebuild generation and
  * claimed by [[StateTables.claim]] — byte-idempotent replay, MSCK
  * re-adoption across JVMs (the [[StateTables]] discipline); admission
  * reads only the LATEST generation.
  */
object SaDedupStream {

  /** md5 fingerprint of every `minLen`-codepoint window of every
    * document — `(h)` distinct. `sequence()` counts DOWN when
    * stop < start, so sub-window documents are filtered first.
    */
  def windowCensus(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int): DataFrame =
    docs.select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol),
        explode(sequence(lit(1), length(col(textCol)) - (minLen - 1))).as("pos"),
        col(textCol))
      .select(md5(expr(s"substring($textCol, pos, $minLen)")).as("h"))
      .distinct()

  /** REBUILD COMPACTION: exact batch dedup over the full raw corpus
    * (base + every arrival, read back from the durable drop source),
    * cleaned corpus rewritten under `cleanDir/rebuild=<id>` and the
    * window-fingerprint state regenerated under partition
    * `batch = rebuildId` — both idempotent overwrites. Admission reads
    * the max-batch generation, so a half-written rebuild is invisible
    * until its state partition lands.
    */
  def rebuildCompact(
      spark: SparkSession,
      rawDocs: DataFrame,
      stateTable: String,
      cleanDir: String,
      rebuildId: Long,
      minLen: Int): Unit = {
    ensureStateTable(spark, stateTable)
    val cleaned = SuffixArray
      .removeDuplicatedSpans(rawDocs.select(col("doc_id"), col("text")),
        "doc_id", "text", minLen.toLong)
    cleaned.write.mode("overwrite").parquet(s"$cleanDir/rebuild=$rebuildId")
    val census = windowCensus(
      spark.read.parquet(s"$cleanDir/rebuild=$rebuildId")
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", minLen)
    StateTables.claim(stateTable, rebuildId, census)
  }

  /** Start the admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      minLen: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir, minLen)
    }

  /** One micro-batch: fingerprint the arrivals' windows, semi-join the
    * latest frozen generation (bucket-local on the state side), merge
    * the matched windows' covered positions, cut — the shared
    * [[SuffixArray.cutCoveredPositions]] tail — and overwrite this
    * batch's output directory. No state write: admission is read-only
    * (the contract above), so replay is trivially idempotent.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String,
      minLen: Int): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    // drop files may be gone on a later replay; the batch feeds the
    // gram scan and the cut join — freeze it once (house discipline)
    val docs = graft.operators.Checkpoints.eager(
      batch.select(col("doc_id"), col("text")))._1
    val state = StateTables.latest(ss.table(stateTable)).select(col("h"))
    val matched = docs
      .filter(length(col("text")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (minLen - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"substring(text, pos, $minLen)")).as("h"))
      .join(state, Seq("h"), "left_semi")
    val covered = matched
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("pos"))
      .distinct()
    SuffixArray.cutCoveredPositions(docs, "doc_id", "text", covered)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Accumulated admission output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))

  // StateTables.ensure (MSCK re-adoption), never delete-and-recreate:
  // wiping the census here while the stream checkpoint still skips
  // completed batches is the one combination that over-admits.
  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "h STRING, batch BIGINT",
      "CLUSTERED BY (h) SORTED BY (h) INTO 16 BUCKETS")
}
