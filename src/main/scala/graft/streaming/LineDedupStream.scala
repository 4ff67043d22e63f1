package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextOps

/** Incremental CORPUS-LEVEL LINE DEDUP — the streaming twin of the
  * t42 batch gate ([[TextOps.dedupLines]], the CCNet / Dolma
  * paragraph-dedup stage), the `SaDedupStream` two-mode contract
  * applied to keep-first lines. Dolma's own implementation IS this
  * shape: a bloom filter of seen paragraphs, arrivals' paragraphs
  * dropped on a hit — here the "filter" is exact (the line-digest
  * census of the last rebuild's KEPT lines), so there are no false
  * positives to account for.
  *
  *   - **Per-batch ADMISSION** ([[processBatch]]): each arriving
  *     document's long lines (≥ `minChars` — the CCNet length floor,
  *     short lines are structure and always pass) are probed against
  *     the FROZEN census; a hit means the corpus already keeps a copy
  *     of that line, so keep-first drops the arrival's. Lines new to
  *     the census but duplicated WITHIN the batch keep-first by
  *     `(doc_id, ln)` batch-locally — the batch operator's own rule.
  *     No state is written at admission (read-only → crash-replay is
  *     byte-idempotent by construction).
  *   - **Periodic REBUILD compaction** ([[rebuildCompact]]): the full
  *     batch [[TextOps.dedupLines]] over the raw corpus read back
  *     from the durable drop source, cleaned corpus rewritten under
  *     `cleanDir/rebuild=<id>` and the census regenerated from its
  *     kept lines under one rebuild-keyed state partition.
  *
  * EXACTNESS CONTRACT between rebuilds (spec-pinned,
  * `LineDedupStreamSpec`): arrivals repeating FROZEN-corpus lines are
  * cut at admission, bit-identically across a restart and a replayed
  * batch; lines repeated only ACROSS batches (never seen by the
  * frozen census) pass admission and are caught at the next rebuild,
  * whose output is exactly the batch operator over the accumulated
  * corpus. Between rebuilds the corpus over-retains at most
  * inter-batch repeats, never under-retains — and WHICH copy of a
  * duplicated line survives may differ from the global batch order
  * until the rebuild erases the drift.
  *
  * Scale shape: state is one 32-byte digest row per distinct kept
  * long line, h-BUCKETED (16 buckets, sorted — the SaDedupStream
  * discipline) so the tiny batch side repartitions to the bucket
  * count and the state never re-shuffles; generations are claimed
  * by [[StateTables.claim]] and re-adopted via MSCK across JVMs
  * ([[StateTables]]).
  */
object LineDedupStream {

  /** Distinct md5 digest of every kept long line — the frozen census. */
  def lineCensus(docs: DataFrame, idCol: String, textCol: String,
                 minChars: Int): DataFrame =
    TextOps.splitLines(docs, idCol, textCol)
      .filter(length(col("line")) >= minChars)
      .select(md5(col("line")).as("h"))
      .distinct()

  /** REBUILD COMPACTION: batch line dedup over the full raw corpus,
    * cleaned corpus rewritten under `cleanDir/rebuild=<id>`, census
    * regenerated from the KEPT lines under partition
    * `batch = rebuildId` — both idempotent overwrites; admission reads
    * the max-batch generation, so a half-written rebuild is invisible
    * until its state partition lands.
    */
  def rebuildCompact(
      spark: SparkSession,
      rawDocs: DataFrame,
      stateTable: String,
      cleanDir: String,
      rebuildId: Long,
      minChars: Int): Unit = {
    ensureStateTable(spark, stateTable)
    TextOps.dedupLines(rawDocs.select(col("doc_id"), col("text")),
        "doc_id", "text", minChars)
      .write.mode("overwrite").parquet(s"$cleanDir/rebuild=$rebuildId")
    val census = lineCensus(
      spark.read.parquet(s"$cleanDir/rebuild=$rebuildId")
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", minChars)
    StateTables.claim(stateTable, rebuildId, census)
  }

  /** Start the admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      minChars: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir, minChars)
    }

  /** One micro-batch: split the arrivals into lines, anti-join the
    * long lines against the latest frozen census (bucket-local on the
    * state side), keep-first batch-locally among the survivors, and
    * reassemble through the shared [[TextOps.reassembleLines]] tail
    * into this batch's output directory. Read-only on state.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String,
      minChars: Int): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    // drop files may be gone on a later replay; the batch feeds the
    // line split and the reassembly join — freeze it once
    val docs = graft.operators.Checkpoints.eager(
      batch.select(col("doc_id"), col("text")))._1
    val state = StateTables.latest(ss.table(stateTable)).select(col("h"))
    val lines = TextOps.splitLines(docs, "doc_id", "text")
    val big = lines.filter(length(col("line")) >= minChars)
    val fresh = big.withColumn("h", md5(col("line")))
      .join(state, Seq("h"), "left_anti")
      .select(col("doc_id"), col("ln"), col("line"))
    val kept = lines.filter(length(col("line")) < minChars)
      .unionByName(TextOps.keepFirstLines(fresh, "doc_id"))
    TextOps.reassembleLines(docs, "doc_id", "text", kept)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Accumulated admission output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("clean_text"))

  // StateTables.ensure (MSCK re-adoption), never delete-and-recreate:
  // wiping the census while the stream checkpoint still skips
  // completed batches is the one combination that over-admits.
  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "h STRING, batch BIGINT",
      "CLUSTERED BY (h) SORTED BY (h) INTO 16 BUCKETS")
}
