package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.Ann

/** Incremental maintenance of the HIERARCHICAL rep-ladder index (the
  * e22/e22b tier) — the streaming twin [[GraphIndexStream]] provides
  * for the flat graph, extended to the three structures the ladder
  * adds: the duplicate-class map, the nested layer membership, and one
  * edge table PER layer.
  *
  * Two-mode loop (the [[SaDedupStream]]/[[AnnIndexStream]] contract —
  * admission reads frozen state only, the periodic rebuild IS the
  * batch operator):
  *
  *   - ADMISSION (per micro-batch): each arriving vector is first
  *     probed against the frozen CLONE KEY table
  *     ([[graft.similarity.Ann.vectorKey]] — the same 128-bit digest
  *     the batch `representatives` shuffles on). A HIT is an exact
  *     clone of an indexed representative: it folds into the duplicate
  *     class (one row in `arrivals/`, `rep` = the matched
  *     representative) and needs NO graph work — serving's clone
  *     expansion returns it through the live rep map. A MISS is a new
  *     representative: it is labelled against the frozen per-list
  *     centroids, assigned its ladder LEVEL by the frozen per-layer
  *     hash thresholds (`hnswHash(id) <= hmax(layer)` — exactly the
  *     membership a rebuild's rank assignment would give the same id,
  *     because layer membership is a prefix of the (hash, id) order),
  *     and beam-inserted: the layer DESCENT (the identical
  *     [[Ann.hnswSearch]] walk shape, per-query seeds handed down)
  *     finds its neighbours in every layer, and the top-`degree` of
  *     each layer's beam become its insert edges — HNSW's own insert
  *     algorithm, at every level the node's hash admits. State is
  *     never written at admission; `arrivals/` and `inserts/` are
  *     generation-scoped and overwritten per batch id, so a replayed
  *     batch rewrites byte-identical rows.
  *   - REBUILD ([[rebuildCompact]]): the full batch ladder build
  *     ([[buildGeneration]] — rep collapse, salted ranks, per-layer
  *     kNN graphs, entries, thresholds, clone keys, centroids) over
  *     the accumulated corpus, under a new `rebuild=<id>` partition.
  *
  * Exactness contract between rebuilds (spec-pinned): clone arrivals
  * are immediately retrievable and EXACT (clones share every cosine,
  * so expansion reproduces the brute ranking); new-vector arrivals
  * are retrievable through their reversed insert edges at every layer
  * their level admits; what admission cannot see is (a) adjacency
  * among same-window arrivals and (b) duplicate classes formed by two
  * identical NEW vectors arriving separately (both indexed as their
  * own representative until the rebuild collapses them) — between
  * rebuilds the ladder under-links among arrivals, never mislinks.
  *
  * Scale shape: admission is |batch| clone-key lookups (a broadcast
  * join against the repkey table) plus |new| ladder descents (each
  * touches hops·beam·degree vectors per layer — corpus-independent)
  * plus one broadcast label argmax; nothing corpus-sized shuffles.
  */
object HnswIndexStream {

  /** Ladder parameters — one object shared by build, admission,
    * serving and the spec, so the knobs cannot drift.
    */
  final case class LadderParams(
      layers: Int = 3,
      fanout: Long = 8L,
      kUpper: Int = 8,
      nprobeUpper: Int = 4,
      k0: Int = 16,
      nprobe0: Int = 4,
      beamUpper: Int = 16,
      hopsUpper: Int = 4,
      beamWidth: Int = 16,
      hops: Int = 5)

  /** Build generation `gen`: the complete batch ladder artifact over
    * `corpus` (vec_id, label, embedding) — the e22b
    * `sharedHnswIndex` build plus the three admission-only tables
    * (clone keys, per-layer hash thresholds, per-list centroids).
    */
  def buildGeneration(
      spark: SparkSession,
      corpus: DataFrame,
      stateDir: String,
      gen: Long,
      p: LadderParams): Unit = {
    val full = corpus.select(col("vec_id"), col("label"), col("embedding"))
    val repMap = graft.operators.Checkpoints.eager(
      Ann.representatives(full, "vec_id", "embedding"))._1
    repMap.write.mode("overwrite").parquet(s"$stateDir/repmap/rebuild=$gen")
    full.join(repMap.where(col("vec_id") === col("rep"))
      .select(col("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$stateDir/reps/rebuild=$gen")
    val reps = spark.read.parquet(s"$stateDir/reps/rebuild=$gen")
    // clone-key lookup table: digest -> representative id
    reps.select(
      Ann.vectorKey(col("embedding")).as("vkey"), col("vec_id").as("rep"))
      .write.mode("overwrite").parquet(s"$stateDir/repkey/rebuild=$gen")
    val n = reps.count()
    val ranks = graft.operators.Checkpoints.eager(
      Ann.hnswRanks(reps, "vec_id"))._1
    val ranked = reps.join(ranks, "vec_id")
    (p.layers to 1 by -1).foreach { lyr =>
      val members = ranked
        .filter(col("hrank") <= Ann.layerSize(n, lyr, p.fanout))
        .select(col("vec_id"), col("label"), col("embedding"))
      Ann.symmetrize(Ann.knnGraph(
        members, "vec_id", "embedding", "label", p.kUpper, p.nprobeUpper))
        .write.mode("overwrite").parquet(s"$stateDir/layers/rebuild=$gen/layer=$lyr")
    }
    Ann.symmetrize(Ann.knnGraph(
      reps, "vec_id", "embedding", "label", p.k0, p.nprobe0))
      .write.mode("overwrite").parquet(s"$stateDir/edges0/rebuild=$gen")
    ranks.filter(col("hrank") <= 2).select(col("vec_id").as("bid"))
      .write.mode("overwrite").parquet(s"$stateDir/entries/rebuild=$gen")
    // per-layer hash thresholds: layer membership is a PREFIX of the
    // (hash, id) order, so max hash over the prefix gives the arrival
    // rule `hnswHash(id) <= hmax` — the membership the next rebuild's
    // rank would assign the same id.
    val withH = ranks.select(
      col("vec_id"), col("hrank"), Ann.hnswHash(col("vec_id")).as("__h"))
    (1 to p.layers).map { lyr =>
      withH.filter(col("hrank") <= Ann.layerSize(n, lyr, p.fanout))
        .agg(lit(lyr).as("layer"), max(col("__h")).as("hmax"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$stateDir/thresholds/rebuild=$gen")
    Ann.centroids(reps, "label", "embedding")
      .write.mode("overwrite").parquet(s"$stateDir/cents/rebuild=$gen")
  }

  def latestRebuild(spark: SparkSession, stateDir: String): Long =
    StateTables.latestRebuild(spark, s"$stateDir/edges0")

  def run(
      spark: SparkSession,
      dropDir: String,
      stateDir: String,
      checkpoint: String,
      p: LadderParams): StreamingQuery =
    Drops.start(spark, dropDir, Drops.embeddings, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateDir, p)
    }

  /** One micro-batch: clone-probe, label, level-assign, ladder-insert;
    * overwrite this batch's generation-scoped `arrivals/` and
    * `inserts/` — replays are byte-idempotent, frozen state is never
    * written at admission.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      p: LadderParams): Unit = {
    val ss = batch.sparkSession
    val gen = latestRebuild(ss, stateDir)
    require(gen >= 0L, "HnswIndexStream: no frozen generation — run buildGeneration first")
    val arrivals = graft.operators.Checkpoints.eager(
      batch.select(col("vec_id"), col("embedding")))._1
    val repkey = ss.read.parquet(s"$stateDir/repkey/rebuild=$gen")
    val reps = ss.read.parquet(s"$stateDir/reps/rebuild=$gen")
    val cents = ss.read.parquet(s"$stateDir/cents/rebuild=$gen")
    val entries = ss.read.parquet(s"$stateDir/entries/rebuild=$gen")
    val thresholds = ss.read.parquet(s"$stateDir/thresholds/rebuild=$gen")
      .collect().map(r => r.getAs[Int]("layer") -> r.getAs[Long]("hmax")).toMap
    // clone probe: digest match against the frozen representatives
    val keyed = arrivals.withColumn("__vkey", Ann.vectorKey(col("embedding")))
    val clones = keyed.join(broadcast(repkey), col("__vkey") === col("vkey"))
      .select(col("vec_id"), col("rep"), col("embedding"))
    val fresh = graft.operators.Checkpoints.eager(
      keyed.join(broadcast(repkey), col("__vkey") === col("vkey"), "left_anti")
        .select(col("vec_id"), col("embedding")))._1
    val labelled = Ann.assign(fresh, cents, "vec_id", "embedding", "label")
      .select(col("vec_id"), col("label"))
      .join(fresh, Seq("vec_id"))
    // ARRIVALS table: clones carry their matched rep (label irrelevant
    // for a clone — it serves through its rep; the rebuild re-labels),
    // new vectors are their own representative.
    clones.select(col("vec_id"),
        lit(-1L).as("label"), col("embedding"), col("rep"))
      .unionByName(labelled.select(col("vec_id"), col("label"),
        col("embedding"), col("vec_id").as("rep")))
      .write.mode("overwrite")
      .parquet(s"$stateDir/arrivals/rebuild=$gen/batch=$batchId")
    // Ladder insert for the new representatives: descend with the
    // SAME walk serving uses, capture each layer's beam, keep the top
    // `degree` for every arrival whose level admits that layer.
    val levels = fresh.select(col("vec_id"),
      Ann.hnswHash(col("vec_id")).as("__h"))
    val repsCorpus = reps.select(col("vec_id"), col("embedding"))
    var pairs: DataFrame = null
    (p.layers to 0 by -1).foreach { lyr =>
      val edges =
        if (lyr == 0) ss.read.parquet(s"$stateDir/edges0/rebuild=$gen")
        else ss.read.parquet(s"$stateDir/layers/rebuild=$gen/layer=$lyr")
      val (beamW, hops, degree) =
        if (lyr == 0) (p.beamWidth, p.hops, p.k0)
        else (p.beamUpper, p.hopsUpper, p.kUpper)
      val beam = graft.operators.Checkpoints.eager(Ann.beamSearchKnn(
        edges.select(col("qid"), col("bid")), repsCorpus, fresh,
        "vec_id", "embedding",
        entries = if (pairs == null) entries.select(col("bid")) else null,
        beamWidth = beamW, hops = hops, k = beamW,
        presymmetrized = true,
        entryPairs = if (pairs == null) null else pairs))._1
      val admitted =
        if (lyr == 0) levels.select(col("vec_id").as("qid"))
        else levels.filter(col("__h") <= thresholds(lyr))
          .select(col("vec_id").as("qid"))
      beam.join(broadcast(admitted), "qid")
        .filter(col("rank") <= degree)
        .write.mode("overwrite")
        .parquet(s"$stateDir/inserts/rebuild=$gen/layer=$lyr/batch=$batchId")
      pairs = beam.select(col("qid"), col("bid"))
    }
  }

  /** The corpus a rebuild compacts: the frozen FULL corpus
    * (reconstructed exactly from repmap × reps — clones are bitwise
    * equal to their representative) plus the CURRENT generation's
    * arrivals; older generations' arrivals are inside the snapshot.
    * Clone arrivals take their representative's vector verbatim, so
    * the reconstruction stays exact.
    */
  def accumulatedCorpus(spark: SparkSession, stateDir: String): DataFrame = {
    val gen = latestRebuild(spark, stateDir)
    val reps = spark.read.parquet(s"$stateDir/reps/rebuild=$gen")
    val base = spark.read.parquet(s"$stateDir/repmap/rebuild=$gen")
      .join(reps.select(col("vec_id").as("rep"), col("label"), col("embedding")),
        "rep")
      .select(col("vec_id"), col("label"), col("embedding"))
    val arrPath = new org.apache.hadoop.fs.Path(s"$stateDir/arrivals/rebuild=$gen")
    val fs = arrPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(arrPath)) base
    else {
      val arr = spark.read.parquet(s"$stateDir/arrivals/rebuild=$gen")
      // clone arrivals (label -1) re-labelled from their rep's row
      val cloneRows = arr.filter(col("label") === -1L)
        .select(col("vec_id"), col("rep"))
        .join(reps.select(col("vec_id").as("rep"), col("label"),
          col("embedding")), "rep")
        .select(col("vec_id"), col("label"), col("embedding"))
      base.unionByName(cloneRows)
        .unionByName(arr.filter(col("label") =!= -1L)
          .select(col("vec_id"), col("label"), col("embedding")))
    }
  }

  def rebuildCompact(
      spark: SparkSession,
      corpus: DataFrame,
      stateDir: String,
      rebuildId: Long,
      p: LadderParams): Unit =
    buildGeneration(spark, corpus, stateDir, rebuildId, p)

  /** Serve queries over the LIVE ladder: frozen layer edges ∪ this
    * generation's insert edges (both directions — inserted nodes are
    * reachable through the reversed edges), rep corpus ∪ new-rep
    * arrivals, rep map ∪ arrival mappings, then the standard descent +
    * clone expansion.
    */
  def servingSearch(
      spark: SparkSession,
      stateDir: String,
      queries: DataFrame,
      p: LadderParams,
      k: Int): DataFrame = {
    val gen = latestRebuild(spark, stateDir)
    val reps = spark.read.parquet(s"$stateDir/reps/rebuild=$gen")
    val repMapFrozen = spark.read.parquet(s"$stateDir/repmap/rebuild=$gen")
    val entries = spark.read.parquet(s"$stateDir/entries/rebuild=$gen")
    val arrPath = new org.apache.hadoop.fs.Path(s"$stateDir/arrivals/rebuild=$gen")
    val fs = arrPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasArrivals = fs.exists(arrPath)
    val arrivals =
      if (hasArrivals) spark.read.parquet(s"$stateDir/arrivals/rebuild=$gen")
      else null
    val corpus =
      if (!hasArrivals) reps.select(col("vec_id"), col("embedding"))
      else reps.select(col("vec_id"), col("embedding"))
        .unionByName(arrivals.filter(col("vec_id") === col("rep"))
          .select(col("vec_id"), col("embedding")))
    val repMap =
      if (!hasArrivals) repMapFrozen
      else repMapFrozen.unionByName(
        arrivals.select(col("vec_id"), col("rep")))
    def liveEdges(lyr: Int): DataFrame = {
      val frozen =
        (if (lyr == 0) spark.read.parquet(s"$stateDir/edges0/rebuild=$gen")
         else spark.read.parquet(s"$stateDir/layers/rebuild=$gen/layer=$lyr"))
          .select(col("qid"), col("bid"))
      val insPath = new org.apache.hadoop.fs.Path(
        s"$stateDir/inserts/rebuild=$gen/layer=$lyr")
      if (!fs.exists(insPath)) frozen
      else {
        val ins = spark.read.parquet(s"$stateDir/inserts/rebuild=$gen/layer=$lyr")
          .select(col("qid"), col("bid"))
        frozen.unionByName(ins)
          .unionByName(ins.select(col("bid").as("qid"), col("qid").as("bid")))
      }
    }
    val walk = Ann.hnswSearch(
      (p.layers to 1 by -1).map(liveEdges) :+ liveEdges(0),
      corpus, queries, "vec_id", "embedding",
      entries.select(col("bid")),
      beamUpper = p.beamUpper, hopsUpper = p.hopsUpper,
      beamWidth = p.beamWidth, hops = p.hops, k = p.beamWidth,
      excludeSelf = false)
    Ann.expandClones(walk, repMap, "vec_id", k)
  }
}
