package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

import graft.similarity.{Ann, Pq}

/** Incremental ANN index maintenance — the streaming half of the
  * packed-index serving shape ([[graft.similarity.Pq.ivfAdcTopKPacked]]).
  *
  * The 100 TB ingest contract: the codebook and coarse centroids are
  * TRAINED ONCE on a bootstrap corpus and then FROZEN (standard PQ
  * serving practice — retraining would re-encode the world); every
  * arriving embedding batch is encoded with the frozen codebook (a
  * narrow broadcast-join map, no shuffle of anything corpus-sized),
  * assigned to its nearest frozen coarse list, packed to one
  * `(vec_id, list, codevec)` row, and appended to the index — which is
  * exactly the layout [[graft.similarity.Pq.ivfAdcTopKPacked]] serves
  * from with zero per-query encode work.
  *
  * Idempotence is the SegmentDedupStream contract: each micro-batch
  * overwrites its own `batch=<id>` directory, so a crash-replayed
  * batch rewrites byte-identical output instead of duplicating rows.
  * Because the codebook is frozen, encoding is deterministic per vector
  * and the streamed index is row-identical to a batch rebuild over the
  * same vectors — `AnnIndexStreamSpec` asserts both properties.
  */
object AnnIndexStream {

  /** Lifecycle event schema: `op` is "u" (upsert — `embedding` carries
    * the vector) or "d" (delete — `embedding` is null and ignored).
    */
  val eventSchema: StructType = Drops.embeddings.add("op", StringType)

  /** Encode + assign + pack one batch of vectors against the frozen
    * codebook and coarse centroids — shared by the stream below and the
    * spec's batch-rebuild reference.
    */
  def packBatch(
      batch: DataFrame,
      cents: DataFrame,
      listCents: DataFrame,
      listCol: String,
      dim: Int,
      m: Int): DataFrame = {
    val assigned = Ann
      .assign(batch, listCents, "vec_id", "embedding", listCol)
      .select(col("vec_id"), col(listCol))
    Pq.packCodes(Pq.encode(batch, cents, "vec_id", "embedding", dim, m), "vec_id")
      .join(assigned, Seq("vec_id"))
      .select(col("vec_id"), col(listCol), col("codevec"))
  }

  /** Pack one LIFECYCLE batch: upserts are encoded exactly as
    * [[packBatch]]; deletes become TOMBSTONE rows — `(vec_id, null
    * list, null codevec, op="d")` — that shadow any older generation of
    * the same vector at read time ([[resolve]]). Writer contract: at
    * most one event per vec_id per batch (the drop-file producer's
    * dedup responsibility, same as the lake's K5 merge contract).
    */
  def packEventBatch(
      batch: DataFrame,
      cents: DataFrame,
      listCents: DataFrame,
      listCol: String,
      dim: Int,
      m: Int): DataFrame = {
    val ups = packBatch(
      batch.filter(col("op") === "u").select(col("vec_id"), col("embedding")),
      cents, listCents, listCol, dim, m)
      .withColumn("op", lit("u"))
    val dels = batch.filter(col("op") === "d")
      .select(
        col("vec_id"),
        lit(null).cast(ups.schema(listCol).dataType).as(listCol),
        lit(null).cast("array<long>").as("codevec"),
        lit("d").as("op"))
    ups.unionByName(dels)
  }

  /** Merge-on-read resolution of a stacked lifecycle index: rows are
    * `(vec_id, listCol, codevec, op, batch)` across every generation
    * (the `batch` partition column comes free from reading `indexDir`
    * with partition discovery); per vector the HIGHEST batch wins, and
    * the vector is live only if that winner is an upsert. One map-side
    * combinable `max_by` aggregate keyed on vec_id — the read-time cost
    * that [[compact]] exists to pay down.
    */
  def resolve(index: DataFrame, listCol: String): DataFrame =
    index
      // Partition discovery types `batch=<id>` dirs as int while a
      // compacted base stores it as a long data column — normalize so
      // base ∪ new-batches unions resolve cleanly.
      .withColumn("batch", col("batch").cast("long"))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col(listCol), col("codevec"), col("op")), col("batch")).as("w"))
      .filter(col("w.op") === "u")
      .select(col("vec_id"), col(s"w.$listCol").as(listCol), col("w.codevec").as("codevec"))

  /** LIST-LOCAL compaction: resolve the whole stacked index once and
    * rewrite it partitioned by the coarse list — each inverted list's
    * live vectors land contiguous in their own `<listCol>=<v>/`
    * directory, so a probe-restricted serve
    * ([[graft.similarity.Pq.ivfAdcTopKPacked]] joining the broadcast
    * (qid, list) probe table) can partition-prune to the probed lists
    * instead of scanning every generation of every vector. The
    * compacted base keeps the lifecycle contract — `op="u"` and
    * `batch = <high-water mark>` as data columns — so later stream
    * batches (numbered above the mark by the checkpoint) stack on top
    * and [[resolve]] over base ∪ new batches stays correct. Returns the
    * high-water batch id.
    */
  def compact(
      spark: SparkSession,
      indexDir: String,
      compactDir: String,
      listCol: String): Long = {
    val stacked = spark.read.parquet(indexDir)
    import spark.implicits.newLongEncoder
    val hiBatch = stacked.agg(max(col("batch"))).as[Long].head()
    resolve(stacked, listCol)
      .withColumn("op", lit("u"))
      .withColumn("batch", lit(hiBatch))
      .write.mode("overwrite").partitionBy(listCol).parquet(compactDir)
    hiBatch
  }

  /** PERIODIC LIST REBALANCE — the [[compact]] contract applied to the
    * index's list structure (reference analog: K5 compaction). A
    * drifting arrival distribution skews list populations and an
    * over-full list degrades every probe that touches it; this
    * maintenance step, run between stream generations:
    *
    *   1. resolves the stacked index to its live rows;
    *   2. splits every list over `maxListSize` over the RAW vectors
    *      (`vectors` — in production the durable drop source read
    *      back; only the split lists' vectors shuffle, O(drift) not
    *      O(index)), routing by the worst list's required fan-out
    *      k = ⌈max-list/maxListSize⌉: sparse drift (k ≤ 2) takes the
    *      seeded 2-means ([[graft.similarity.Rebalance.splitListsServable]]),
    *      uniform growth (k > 2) the one-pass k-way split
    *      ([[graft.similarity.Rebalance.splitListsK]], measured 47.8 s
    *      vs the 2-way ladder's 62.6 s at ×10 uniform growth) — the
    *      same routing as `Ann.knnGraphRebalanced`;
    *   3. rewrites the compacted base under the NEW list ids, list-
    *      partitioned, with the same `op`/`batch` stacking contract as
    *      [[compact]] so later stream batches layer on top;
    *   4. returns the high-water batch id AND the REFRESHED probe
    *      router — untouched lists keep their centroids, the split
    *      lists' ids (kept and `+offset`) carry the pass's final
    *      centroids — which the restarted stream and every
    *      [[graft.similarity.Pq.ivfAdcTopKPacked]] serve must use: the
    *      new list ids have no centroid anywhere else, so serving the
    *      old router would make the split lists unreachable.
    *
    * Stream-maintained ≡ batch-rebuilt across a restart that includes
    * one rebalance is pinned by `AnnRebalanceStreamSpec`.
    */
  def rebalanceCompact(
      spark: SparkSession,
      indexDir: String,
      compactDir: String,
      vectors: DataFrame,
      listCents: DataFrame,
      listCol: String,
      maxListSize: Long,
      newListOffset: Long): (Long, DataFrame) = {
    val stackedRaw = spark.read.parquet(indexDir)
    // a plain [[run]] index has no lifecycle column — every row is an
    // upsert; normalize so [[resolve]] covers both stream flavors
    val stacked =
      if (stackedRaw.columns.contains("op")) stackedRaw
      else stackedRaw.withColumn("op", lit("u"))
    import spark.implicits.newLongEncoder
    val hiBatch = stacked.agg(max(col("batch"))).as[Long].head()
    val live = resolve(stacked, listCol)
    val maxNow = live.groupBy(col(listCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect()(0).getLong(0)
    val kMax = (maxNow + maxListSize - 1) / maxListSize
    val (newAsn, splitCents) =
      if (kMax > 2)
        graft.similarity.Rebalance.splitListsK(
          live.select(col("vec_id"), col(listCol)),
          vectors.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", listCol, maxListSize, newListOffset)
      else
        graft.similarity.Rebalance.splitListsServable(
          live.select(col("vec_id"), col(listCol)),
          vectors.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", listCol, maxListSize, newListOffset)
    live.drop(listCol).join(newAsn, Seq("vec_id"))
      .select(col("vec_id"), col(listCol), col("codevec"))
      .withColumn("op", lit("u"))
      .withColumn("batch", lit(hiBatch))
      .write.mode("overwrite").partitionBy(listCol).parquet(compactDir)
    val router = listCents
      .select(col(listCol), col("centroid"))
      .join(splitCents.select(col(listCol)), Seq(listCol), "left_anti")
      .unionByName(splitCents.select(col(listCol), col("centroid")))
    (hiBatch, router)
  }

  /** Start the index-maintenance stream over a parquet drop directory.
    * `indexDir` accumulates one `batch=<id>` directory per micro-batch;
    * read the whole index with `spark.read.parquet(indexDir)`.
    */
  def run(
      spark: SparkSession,
      dropDir: String,
      indexDir: String,
      checkpoint: String,
      cents: DataFrame,
      listCents: DataFrame,
      listCol: String,
      dim: Int,
      m: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.embeddings, checkpoint, "parquet") { (batch, batchId) =>
      packBatch(batch, cents, listCents, listCol, dim, m)
        .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    }

  /** The lifecycle stream: like [[run]] but over [[eventSchema]] drop
    * files (upserts AND deletes). Each micro-batch writes its packed
    * upserts plus delete tombstones into its own idempotent
    * `batch=<id>` directory; serve with
    * `resolve(spark.read.parquet(indexDir), listCol)` or compact first.
    */
  def runLifecycle(
      spark: SparkSession,
      dropDir: String,
      indexDir: String,
      checkpoint: String,
      cents: DataFrame,
      listCents: DataFrame,
      listCol: String,
      dim: Int,
      m: Int): StreamingQuery =
    Drops.start(spark, dropDir, eventSchema, checkpoint, "parquet") { (batch, batchId) =>
      packEventBatch(batch, cents, listCents, listCol, dim, m)
        .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    }
}
