package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING training-shard layout — the ingestion end of the t37
  * batch gate: curated documents arriving in micro-batches are DEALT
  * round-robin to `numShards` training shards incrementally, each doc
  * getting a (shard, pos_in_shard) slot the moment it arrives, with no
  * re-scan of history. This is the delivery step a training-data
  * pipeline runs continuously: the offline layout (t37) shuffles a
  * frozen corpus by salted hash and deals by global rank; at ingestion
  * the arrival sequence plays the rank's role — arrivals are already
  * hash-shuffled by upstream curation, so dealing in arrival order
  * preserves the layout's balance property (shard sizes never differ
  * by more than one, pinned in `ShardStreamSpec`).
  *
  * The deal rides the same global rank as t37
  * ([[graft.operators.GlobalRank.withGlobalRank]] within the
  * micro-batch — no single-partition window) plus ONE broadcast base:
  * the global sequence number is `docs dealt in prior batches` +
  * `within-batch rank`, so state is ONE ROW PER BATCH (that batch's
  * doc count), partitioned by batch and claimed by [[StateTables.claim]]
  * — byte-idempotent crash replay, MSCK re-adoption across JVMs (the
  * [[StateTables]] discipline).
  *
  * Equivalence contracts (`ShardStreamSpec`): when drops arrive in
  * `doc_id` order the accumulated stream output is row-identical to
  * [[batchDeal]] over the same arrival prefix, across a restart and a
  * crash-replayed batch; and when arrivals come in t37's own salted
  * md5 order the stream-dealt layout IS the t37 batch layout — the
  * twin reproduces the offline shard deal exactly.
  */
object ShardStream {

  /** The one deal definition both twins answer: global 0-based
    * sequence by `doc_id` (arrival) order, `shard = seq % numShards`,
    * `pos_in_shard = seq / numShards`.
    */
  def batchDeal(docs: DataFrame, numShards: Int): DataFrame =
    deal(docs, numShards, baseSeq = 0L)._1

  private def deal(docs: DataFrame, numShards: Int,
                   baseSeq: Long): (DataFrame, Long) = {
    val toks = docs.select(col("doc_id"), col("source"),
      graft.functions.Exprs.tokenCount(col("text")).cast("long").as("n_tokens"))
    val (ranked, total) = graft.operators.GlobalRank
      .withGlobalRank(toks, "__rk", col("doc_id"))
    val seq = col("__rk") - 1 + baseSeq
    (ranked.select(
      col("doc_id"), col("source"), col("n_tokens"),
      (seq % numShards).cast("long").as("shard"),
      // seq and numShards are non-negative: % and / are exact here
      (seq - seq % numShards).divide(numShards).cast("long").as("pos_in_shard")),
      total)
  }

  /** Per-shard DELIVERY-INTEGRITY MANIFEST — the artifact a training
    * job checks before reading a shard: `(shard, n_docs, n_tokens,
    * content_md5)` where `content_md5` is an ORDER-DEPENDENT digest of
    * the shard's documents in `pos_in_shard` order. The digest is
    * Merkle-shaped so NO fold ever holds more than `blockSize` hashes:
    * per-doc md5(text) → per-BLOCK md5 of the ≤`blockSize` ordered doc
    * hashes (bounded sorted list per group, the t17 idiom) → recurse —
    * whenever a shard still holds more than `blockSize` block hashes,
    * another level folds each run of `blockSize` ordered hashes into
    * one (a 100 M-doc shard at 1024 is three levels) — until the
    * per-shard fold is bounded too. The level count is decided by ONE
    * scalar aggregate over the deal (max `pos_in_shard`), so the plan
    * is deterministic in the corpus size; with everything in one block
    * level the output is byte-identical to the original two-level fold
    * (spec-pinned). Each level is one map-side-combinable groupBy;
    * every step is engine-portable (md5 + ordered string concat), so
    * the oracle replays it exactly.
    */
  def manifestOf(dealt: DataFrame, docsText: DataFrame,
                 blockSize: Int = 1024): DataFrame = {
    val withHash = dealt
      .join(docsText.select(col("doc_id"), md5(col("text")).as("__dh")),
        Seq("doc_id"))
    var level = withHash
      .groupBy(col("shard"),
        (col("pos_in_shard") - col("pos_in_shard") % blockSize)
          .divide(blockSize).cast("long").as("__blk"))
      .agg(count(lit(1)).as("__n"), sum(col("n_tokens")).as("__t"),
        md5(concat_ws("", expr("transform(array_sort(collect_list(" +
          "struct(pos_in_shard, __dh))), x -> x.__dh)"))).as("__bh"))
    // hashes per shard after the first fold; each further level
    // divides by blockSize until the final per-shard fold is bounded
    var groups = (dealt.agg(coalesce(max(col("pos_in_shard")), lit(0L)))
      .head().getLong(0) / blockSize) + 1L
    while (groups > blockSize) {
      level = level
        .groupBy(col("shard"),
          (col("__blk") - col("__blk") % blockSize)
            .divide(blockSize).cast("long").as("__blk2"))
        .agg(sum(col("__n")).as("__n"), sum(col("__t")).as("__t"),
          md5(concat_ws("", expr("transform(array_sort(collect_list(" +
            "struct(__blk, __bh))), x -> x.__bh)"))).as("__bh"))
        .withColumnRenamed("__blk2", "__blk")
      groups = (groups - 1L) / blockSize + 1L
    }
    level
      .groupBy(col("shard"))
      .agg(sum(col("__n")).as("n_docs"), sum(col("__t")).as("n_tokens"),
        md5(concat_ws("", expr("transform(array_sort(collect_list(" +
          "struct(__blk, __bh))), x -> x.__bh)"))).as("content_md5"))
  }

  /** [[manifestOf]] over the offline deal. */
  def manifest(docs: DataFrame, numShards: Int,
               blockSize: Int = 1024): DataFrame =
    manifestOf(batchDeal(docs, numShards), docs, blockSize)

  /** Start the shard-deal stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      outDir: String,
      checkpoint: String,
      numShards: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.sourcedDocs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, outDir, numShards)
    }

  /** One micro-batch: sequence base from prior batches' state rows,
    * two-pass within-batch rank, deal, claim this batch's doc count.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      outDir: String,
      numShards: Int): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    // drop files may be gone on a later replay; the batch feeds both
    // the output write and the state claim
    val docs = batch.select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val baseSeq = StateTables.before(ss, stateTable, batchId)
      .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0)
    val (out, total) = deal(docs, numShards, baseSeq)
    out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    StateTables.claim(stateTable, batchId, ss.range(1).select(lit(total).as("n_docs")))
  }

  /** Accumulated stream output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("shard"), col("pos_in_shard"))

  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "n_docs BIGINT, batch BIGINT")
}
