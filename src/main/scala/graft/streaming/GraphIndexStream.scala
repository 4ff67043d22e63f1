package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.Ann

/** Incremental kNN-GRAPH maintenance — the streaming twin of the
  * graph-ANN serving tier (gate `e21`), closing the twin discipline
  * for the one index family that still lacked it. The shape is HNSW's
  * own insert algorithm: a new vector's graph edges ARE the result of
  * a beam search for its neighbours over the existing graph
  * ([[graft.similarity.Ann.beamSearchKnn]] — the identical function
  * serving queries), so admission needs no machinery the serving path
  * doesn't already have.
  *
  * Two-mode loop, the [[SaDedupStream]] / [[AnnIndexStream]] contract:
  *
  *   - ADMISSION (per micro-batch): each arriving vector is labelled
  *     against the FROZEN per-list centroids (broadcast argmax — the
  *     AnnIndexStream frozen-codebook rule: admission never retrains),
  *     beam-searched over the FROZEN graph generation, and its top-k
  *     edges written under `inserts/rebuild=<gen>/batch=<id>` —
  *     overwrite per batch, so a crash-replayed batch rewrites
  *     byte-identical rows. State is READ-ONLY at admission; the frozen
  *     generation never moves. Arrivals/inserts are GENERATION-SCOPED:
  *     a rebuild absorbs its own generation's arrivals into the next
  *     snapshot, and readers only ever union the CURRENT generation's
  *     batches — older ones stay on disk unread (they are already in
  *     the snapshot; re-reading them would double-count). Run
  *     [[rebuildCompact]] only while the stream is stopped (the
  *     AvailableNow cadence every state stream here uses), so a
  *     replayed batch re-derives the same generation it first saw.
  *   - REBUILD ([[rebuildCompact]], periodic): the full batch operator
  *     ([[graft.similarity.Ann.knnGraph]]) over the accumulated corpus
  *     regenerates graph + corpus snapshot + centroids under one new
  *     `rebuild=<id>` partition set.
  *
  * Exactness contract between rebuilds (spec-pinned): an arrival's
  * edges point at its true frozen-corpus neighbours (beam-search
  * quality, the e21 recall measurement); arrivals are immediately
  * RETRIEVABLE because [[Ann.beamSearchKnn]] symmetrizes — a query
  * walking the frozen graph reaches the new node through the REVERSED
  * insert edges; what admission cannot see is arrival-vs-arrival
  * adjacency (two new vectors never link each other), which the next
  * rebuild restores — between rebuilds the graph under-links only
  * among same-window arrivals, never mislinks.
  *
  * Scale shape: admission is |batch| beam searches (each touches
  * hops·beam·degree vectors — corpus-independent) plus one broadcast
  * label argmax; the rebuild is the batch build, amortized over its
  * window exactly like the SA and ANN-index compactions.
  */
object GraphIndexStream {

  /** Graph search/insert parameters — one object so admission, serving
    * and the spec's references can't drift apart.
    */
  final case class GraphParams(
      k: Int = 3,
      nprobe: Int = 2,
      beamWidth: Int = 16,
      hops: Int = 5)

  /** Beam-search entry ids of a corpus snapshot: the TWO lowest ids
    * per list (the e21 convention since round 16 — one entry per list
    * measured recall@5 sagging to 0.86 at ×10 corpora, two recovered
    * 1.00; HNSW's spread-the-starts role).
    */
  def entriesOf(corpus: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("vec_id"))
    corpus.select(col("label"), col("vec_id"))
      .withColumn("__r", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__r") <= 2)
      .select(col("vec_id").as("bid"))
  }

  /** One arrival batch's insert edges against a frozen generation —
    * shared by the stream below, [[servingSearch]]'s contract and the
    * spec's batch reference. Returns `(qid, rank, bid, cosine)` with
    * `qid` the NEW vector.
    */
  def insertEdges(
      arrivals: DataFrame,
      frozenEdges: DataFrame,
      frozenCorpus: DataFrame,
      p: GraphParams): DataFrame =
    Ann.beamSearchKnn(
      frozenEdges.select(col("qid"), col("bid")),
      frozenCorpus.select(col("vec_id"), col("embedding")),
      arrivals.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding",
      entriesOf(frozenCorpus),
      p.beamWidth, p.hops, p.k)

  /** Rebuild generation `rebuildId`: the batch graph over the
    * accumulated corpus, plus the corpus snapshot and the frozen
    * per-list centroids admission labels against. `corpus` must carry
    * `(vec_id, label, embedding)` — arrivals were labelled at
    * admission, so accumulation preserves the invariant.
    */
  def rebuildCompact(
      spark: SparkSession,
      corpus: DataFrame,
      stateDir: String,
      rebuildId: Long,
      p: GraphParams): Unit = {
    val snap = corpus.select(col("vec_id"), col("label"), col("embedding"))
    snap.write.mode("overwrite").parquet(s"$stateDir/corpus/rebuild=$rebuildId")
    val frozen = spark.read.parquet(s"$stateDir/corpus/rebuild=$rebuildId")
    Ann.knnGraph(frozen, "vec_id", "embedding", "label", p.k, p.nprobe)
      .write.mode("overwrite").parquet(s"$stateDir/edges/rebuild=$rebuildId")
    Ann.centroids(frozen, "label", "embedding")
      .write.mode("overwrite").parquet(s"$stateDir/cents/rebuild=$rebuildId")
  }

  /** Latest frozen generation id (−1 when no rebuild has run). */
  def latestRebuild(spark: SparkSession, stateDir: String): Long =
    StateTables.latestRebuild(spark, s"$stateDir/edges")

  /** Start the admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateDir: String,
      checkpoint: String,
      p: GraphParams): StreamingQuery =
    Drops.start(spark, dropDir, Drops.embeddings, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateDir, p)
    }

  /** One micro-batch: label the arrivals against the frozen centroids,
    * beam-insert them against the frozen graph, and overwrite this
    * batch's `arrivals/` and `inserts/` directories — both replays are
    * byte-idempotent, state is never written at admission.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      p: GraphParams): Unit = {
    val ss = batch.sparkSession
    val gen = latestRebuild(ss, stateDir)
    require(gen >= 0L, "GraphIndexStream: no frozen generation — run rebuildCompact first")
    // drop files may be gone on a later replay; freeze the batch once
    val arrivals = graft.operators.Checkpoints.eager(
      batch.select(col("vec_id"), col("embedding")))._1
    val corpus = ss.read.parquet(s"$stateDir/corpus/rebuild=$gen")
    val edges = ss.read.parquet(s"$stateDir/edges/rebuild=$gen")
    val cents = ss.read.parquet(s"$stateDir/cents/rebuild=$gen")
    val labelled = Ann.assign(arrivals, cents, "vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"))
      .join(arrivals, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding"))
    // GENERATION-SCOPED state paths (`rebuild=<gen>/batch=<id>`): a
    // rebuild ABSORBS the arrivals of its own generation into the new
    // corpus snapshot, so readers of generation g+1 must never union
    // generation-g arrivals back in — an unscoped `arrivals/batch=*`
    // union double-counted absorbed vectors after the first rebuild
    // (duplicate corpus rows earn distinct row_number ranks in the beam
    // search: the same bid could fill two of a query's top-k slots and
    // displace true neighbours, and the next rebuild built its graph
    // over the duplicated corpus). Old generations stay on disk as an
    // audit trail; they are simply never read again.
    labelled.write.mode("overwrite")
      .parquet(s"$stateDir/arrivals/rebuild=$gen/batch=$batchId")
    insertEdges(arrivals, edges, corpus, p)
      .write.mode("overwrite")
      .parquet(s"$stateDir/inserts/rebuild=$gen/batch=$batchId")
  }

  /** The accumulated corpus a rebuild compacts: the latest snapshot
    * plus the arrival batches admitted AGAINST that snapshot's
    * generation only — older generations' arrivals are already inside
    * the snapshot (the rebuild absorbed them), so reading them again
    * would double-count.
    */
  def accumulatedCorpus(spark: SparkSession, stateDir: String): DataFrame = {
    val gen = latestRebuild(spark, stateDir)
    val base = spark.read.parquet(s"$stateDir/corpus/rebuild=$gen")
      .select(col("vec_id"), col("label"), col("embedding"))
    val arrPath = new org.apache.hadoop.fs.Path(s"$stateDir/arrivals/rebuild=$gen")
    val fs = arrPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(arrPath)) base
    else base.unionByName(
      spark.read.parquet(s"$stateDir/arrivals/rebuild=$gen")
        .select(col("vec_id"), col("label"), col("embedding")))
  }

  /** Serve queries over the LIVE index: frozen edges ∪ insert edges
    * (beamSearchKnn symmetrizes, so inserted nodes are reachable
    * through their reversed edges) against frozen corpus ∪ arrivals.
    */
  def servingSearch(
      spark: SparkSession,
      stateDir: String,
      queries: DataFrame,
      p: GraphParams,
      k: Int): DataFrame = {
    val gen = latestRebuild(spark, stateDir)
    val corpus = accumulatedCorpus(spark, stateDir)
    val frozenEdges = spark.read.parquet(s"$stateDir/edges/rebuild=$gen")
      .select(col("qid"), col("bid"))
    val insPath = new org.apache.hadoop.fs.Path(s"$stateDir/inserts/rebuild=$gen")
    val fs = insPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edges =
      if (!fs.exists(insPath)) frozenEdges
      else frozenEdges.unionByName(
        spark.read.parquet(s"$stateDir/inserts/rebuild=$gen")
          .select(col("qid"), col("bid")))
    Ann.beamSearchKnn(edges, corpus.select(col("vec_id"), col("embedding")),
      queries, "vec_id", "embedding", entriesOf(corpus),
      p.beamWidth, p.hops, k)
  }
}
