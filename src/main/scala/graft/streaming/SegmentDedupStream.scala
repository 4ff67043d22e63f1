package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextOps

/** Incremental C4 segment dedup — the streaming twin of the t18 batch
  * gate, proving the curation pipeline's incremental mode end-to-end:
  * documents arrive as JSONL drops, each micro-batch dedups its
  * segments against every EARLIER batch through a persistent
  * seen-segment state table, and per-doc cleaned outputs append to the
  * lake. Keep-FIRST semantics match the batch gate exactly when drops
  * arrive in `occ` (doc_id) order — `SegmentDedupStreamSpec` asserts
  * stream ≡ batch replay across a stop/restart.
  *
  * The state table is the t22 discipline applied to streaming state:
  * h-BUCKETED (16 buckets, sorted) so the per-batch anti-join reads
  * state without re-shuffling it — at 100 TB the state table is
  * corpus-scale (one ~16-byte row per distinct segment) while a batch
  * is tiny, so the batch side repartitions to the bucket count and the
  * state side never moves. It is also PARTITIONED BY batch, which is
  * what makes crash replay exact: foreachBatch re-delivers a batch
  * after a failure, and a replayed batch id re-reads only state
  * partitions `batch < id` (partition-pruned — its own half-written
  * partition is invisible to the computation) and then overwrites its
  * own claim and output directory. Re-running any
  * batch is therefore byte-identical — the same idempotence contract
  * as `StreamingIngest.toLakeMerged`.
  */
object SegmentDedupStream {

  /** Start the incremental dedup stream over a JSONL drop directory.
    * `stateTable` is created on first use (bucketed + batch-partitioned
    * managed parquet); `outDir` accumulates one `batch=<id>` directory
    * per micro-batch with (doc_id, n_segs, n_dropped, clean_fp) rows.
    */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir)
    }

  /** One micro-batch: derive segments with the SAME body as the t18
    * batch gate, anti-join against all earlier batches' keepers, claim
    * this batch's new segment hashes (min occ within the batch), and
    * re-assemble per-doc outputs. Idempotent by construction — both
    * writes overwrite batch-keyed targets.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    // localCheckpoint: segs feeds three consumers (anti-join, keeper
    // join, per-doc totals) and the source files may be gone on replay
    // of a later retry — freeze the batch once.
    val segs = TextOps.docSegments(batch).localCheckpoint(true)
    val prior = StateTables.before(ss, stateTable, batchId).select(col("h"))
    val newKeep = segs
      .join(prior, Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col("occ")).as("keeper"))
      .localCheckpoint(true)
    StateTables.claim(stateTable, batchId, newKeep)
    // keeper is null for hashes claimed by an earlier batch — the
    // shared assembly body counts those occurrences as dropped.
    val out = TextOps.assembleSegmentDedup(
      segs.join(newKeep, Seq("h"), "left_outer"))
    out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Create the bucketed, batch-partitioned state table if absent —
    * [[StateTables.ensure]] re-adopts (MSCK) any generations a previous
    * JVM left at the location; deleting them while the stream
    * checkpoint still skips completed batches would over-admit.
    */
  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "h BIGINT, keeper BIGINT, batch BIGINT",
      "CLUSTERED BY (h) SORTED BY (h) INTO 16 BUCKETS")
}
