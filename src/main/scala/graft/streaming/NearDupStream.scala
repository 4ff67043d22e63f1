package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.MinHashLSH

/** Incremental document-level near-dup — the streaming twin of the
  * m10 batch gate (online MinHash-LSH dedup): documents arrive as
  * JSONL drops in `doc_id` order, each micro-batch MinHashes its docs,
  * probes a persistent banded-bucket state table for EARLIER bucket
  * mates, and flags any arrival whose estimated Jaccard against an
  * earlier doc reaches the threshold — emitting `(doc_id, dup_of)`
  * with `dup_of` the smallest matching earlier id. This is the
  * ingestion-time shape of training-data dedup at 100 TB: the corpus
  * is an append-only stream, and each new document must be admitted or
  * rejected NOW, against all of history, without re-running the batch
  * pipeline (reference analog: the incremental arrivals contract,
  * `etl/extract.py:299-318`, applied to the curation tier).
  *
  * Equivalence contract: when drops arrive in `doc_id` order, the
  * accumulated output is row-identical to the batch gate
  * (`DedupQueries.onlineNearDup`) — `NearDupStreamSpec` asserts it,
  * including across a replayed batch. Both sides share one definition
  * of signatures and banding ([[MinHashLSH]]), so the equivalence is
  * structural, not coincidental.
  *
  * Scale shape (the SegmentDedupStream state discipline): the state
  * table holds one row per (doc, band) — 4 rows/doc at the gate's
  * b=4 — BUCKETED by band value so the per-batch probe join reads
  * state without re-shuffling it, and PARTITIONED BY batch so crash
  * replay is exact: a re-delivered batch re-reads only `batch < id`
  * partitions and overwrites its own claim, making every batch
  * byte-idempotent. Bucket-mate comparison stays bounded by bucket
  * population — the LSH guarantee — so per-batch work is
  * |batch| × mean-bucket-size, independent of corpus size.
  */
object NearDupStream {

  /** Start the incremental near-dup stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      minMatches: Int = 4): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir, numHashes, rowsPerBand, minMatches)
    }

  /** One micro-batch: signature + banded rows for the batch's docs,
    * probe state (earlier batches) and the batch itself (earlier ids)
    * for bucket mates, flag at `minMatches` equal signature
    * components (= est_jaccard ≥ minMatches/numHashes — the threshold
    * is INTEGER, so no float ever gates a dedup decision), claim the
    * batch's banded rows into state, write `(doc_id, dup_of)`.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String,
      numHashes: Int,
      rowsPerBand: Int,
      minMatches: Int): Unit = {
    ensureStateTable(batch.sparkSession, stateTable)
    val banded = bandedRows(batch, numHashes, rowsPerBand)
    val flagged = earlierMates(banded, stateTable, batchId, minMatches)
    StateTables.claim(stateTable, batchId, banded)
    flagged.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Banded rows `(doc_id, band, v0, v1, sig)` of `docs` — the same
    * signature pipeline as the batch gate. localCheckpoint: they feed
    * the state claim and both probe sides, and drop files may be gone
    * on a later replay. Shared with [[CurationStream]].
    */
  private[streaming] def bandedRows(docs: DataFrame, numHashes: Int,
                                    rowsPerBand: Int): DataFrame = {
    val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, numHashes)
    val bandCols = (0 until numHashes / rowsPerBand).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        col(s"sig_${bIdx * rowsPerBand}").as("v0"),
        col(s"sig_${bIdx * rowsPerBand + 1}").as("v1"))
    }
    sig
      .select(
        col("doc_id"),
        array((0 until numHashes).map(i => col(s"sig_$i")): _*).as("sig"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.v0").as("v0"), col("b.v1").as("v1"), col("sig"))
      .localCheckpoint(true)
  }

  /** `(doc_id, dup_of)` for every banded arrival with an earlier bucket
    * mate sharing at least `minMatches` signature components; `dup_of`
    * is the smallest such id. Earlier means all of history (the
    * batches before `batchId` in `stateTable`) plus earlier ids within
    * this batch: id-ordered arrival makes "earlier batch" ⊆ "smaller
    * id", and the explicit id_a < id_b filter also covers the
    * intra-batch side, so the union is exactly the batch gate's pair
    * set. Shared with [[CurationStream]].
    */
  private[streaming] def earlierMates(banded: DataFrame, stateTable: String,
                                      batchId: Long, minMatches: Int): DataFrame = {
    val prior = StateTables.before(banded.sparkSession, stateTable, batchId)
      .select(col("doc_id"), col("band"), col("v0"), col("v1"), col("sig"))
    val earlier = prior.unionByName(banded)
    val matches = (c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =>
      aggregate(zip_with(c1, c2, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, m) => acc + m)
    banded.select(
        col("doc_id").as("id_b"), col("band"), col("v0"), col("v1"),
        col("sig").as("sig_b"))
      .join(
        earlier.select(col("doc_id").as("id_a"), col("band"), col("v0"),
          col("v1"), col("sig").as("sig_a")),
        Seq("band", "v0", "v1"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .filter(matches(col("sig_a"), col("sig_b")) >= minMatches)
      .groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"))
      .select(col("id_b").as("doc_id"), col("dup_of"))
  }

  /** Accumulated stream output over all batches: (doc_id, dup_of). */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).select(col("doc_id"), col("dup_of"))

  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name,
      "doc_id BIGINT, band INT, v0 BIGINT, v1 BIGINT, sig ARRAY<BIGINT>, batch BIGINT",
      "CLUSTERED BY (v0) SORTED BY (v0) INTO 16 BUCKETS")
}
