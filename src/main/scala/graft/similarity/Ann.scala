package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.DriverBound

/** Approximate-nearest-neighbour search over an embedding column
  * (`ARRAY<FLOAT>`).
  *
  * Two tiers:
  *   - [[bruteTopK]] — exact cosine top-k, query-set × corpus. The
  *     baseline; right answer when the query set is small (broadcast the
  *     queries, stream the corpus).
  *   - [[bucketedTopK]] — IVF-style: candidates restricted to the query's
  *     bucket (a coarse-quantizer label or LSH bucket). The 100 TB path:
  *     per-query work is bucket-sized, not corpus-sized.
  *
  * Ranking is computed on the rounded cosine with an id tiebreaker, so
  * results are reproducible regardless of partitioning / summation order.
  */
object Ann {

  /** Double-precision cosine between two float-array columns (fold is
    * per-row sequential, deterministic).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.Exprs.cosine(a, b)

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("bid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("bid"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact top-k: `queries` broadcast against the corpus. */
  def bruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    // |queries| cosines per corpus row: spread a single-split corpus
    // scan before the cross join (no-op at real scale).
    val b = graft.operators.Scans.spreadSmall(
      corpus.select(col(idCol).as("bid"), col(vecCol).as("bv")), col("bid"))
    rank(
      q.crossJoin(b)
        .filter(col("qid") =!= col("bid"))
        .select(col("qid"), col("bid"), round(cosine(col("qv"), col("bv")), 6).as("cosine")),
      k)
  }

  /** Bucketed top-k: join on the bucket column instead of cross join. */
  def bucketedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("qid"), col(bucketCol).as("bucket"), col(vecCol).as("qv")))
    val b = corpus.select(col(idCol).as("bid"), col(bucketCol).as("bucket"), col(vecCol).as("bv"))
    rank(
      q.join(b, "bucket")
        .filter(col("qid") =!= col("bid"))
        .select(col("qid"), col("bid"), round(cosine(col("qv"), col("bv")), 6).as("cosine")),
      k)
  }

  /** HARD-NEGATIVE MINING (contrastive-training data): for each query,
    * the top-k nearest vectors whose coarse list DIFFERS from the
    * query's own — the "near but wrong-class" candidates an embedding
    * model trains against. Same coarse-quantizer discipline as
    * [[ivfTopK]], with the probe set restricted to OTHER lists: each
    * query probes its `nprobe` nearest foreign centroids and ranks
    * candidates only from those lists, so per-query cost stays
    * nprobe × (corpus / lists) — never the corpus — and the broadcast
    * centroid table is the only global object. Deterministic (6-dp
    * cosine, id tiebreaks), so the chain is oracle-replayable.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      listCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids(corpus, listCol, vecCol)
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col(listCol))
    val probes = graft.operators.Scans.spreadSmall(
      queries.select(col(idCol).as("qid"), col(listCol).as("__qlist"), col(vecCol).as("qv")),
      col("qid"))
      .crossJoin(broadcast(cents))
      .filter(col(listCol) =!= col("__qlist"))
      .select(
        col("qid"), col("qv"), col(listCol),
        round(cosine(col("qv"), col("centroid")), 6).as("ccos"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col(listCol))
    val b = corpus.select(col(idCol).as("bid"), col(listCol), col(vecCol).as("bv"))
    // Probes-side width pin when the corpus stats are blind, as in
    // [[ivfTopK]]'s candidates join.
    val probesIn =
      if (graft.operators.Scans.statsBlind(b))
        probes.repartition(
          corpus.sparkSession.sessionState.conf.numShufflePartitions, col(listCol))
      else probes
    val ranked = rank(
      probesIn.join(b, listCol)
        .filter(col("qid") =!= col("bid"))
        .select(col("qid"), col("bid"),
          round(cosine(col("qv"), col("bv")), 6).as("cosine")),
      k)
    // re-attach the negative's list: the training artifact records
    // which foreign class the near-miss came from
    ranked.join(b.select(col("bid"), col(listCol).as("neg_list")), "bid")
      .select(col("qid"), col("rank"), col("bid"), col("neg_list"), col("cosine"))
  }

  /** Int8 scalar quantization: per-vector symmetric scale
    * (127 / max|v|), elements rounded via floor(x·s + 0.5) — the same
    * formula every engine evaluates identically, so quantized vectors
    * (and everything computed from them) are cross-engine exact. At
    * 100 TB this is the memory-bound ANN play: 4× smaller vectors,
    * integer dot products, cosine preserved to ~1e-2.
    */
  def quantize(df: DataFrame, vecCol: String, qCol: String = "qvec"): DataFrame = {
    val ve = transform(col(vecCol), v => v.cast("double"))
    df.withColumn("__s", lit(127.0) / array_max(transform(ve, v => abs(v))))
      .withColumn(qCol, transform(ve, x => floor(x * col("__s") + 0.5).cast("long")))
      .drop("__s")
  }

  /** Bucketed top-k over int8-quantized vectors: integer dot products
    * and norms (exact in any execution order), cosine re-normalized in
    * doubles, ranked on the 6-dp-rounded score with id tiebreakers —
    * the quantized twin of [[bucketedTopK]].
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      k: Int): DataFrame = {
    def prep(df: DataFrame, id: String, v: String): DataFrame =
      quantize(df, vecCol, v)
        .select(col(idCol).as(id), col(bucketCol).as("bucket"), col(v))
    val q = broadcast(prep(queries, "qid", "qv"))
    val b = prep(corpus, "bid", "bv")
    val dot = aggregate(zip_with(col("qv"), col("bv"), _ * _), lit(0L), _ + _)
    def norm2(c: Column) = aggregate(c, lit(0L), (acc, v) => acc + v * v)
    rank(
      q.join(b, "bucket")
        .filter(col("qid") =!= col("bid"))
        .select(
          col("qid"), col("bid"),
          round(
            dot.cast("double") /
              (sqrt(norm2(col("qv")).cast("double")) * sqrt(norm2(col("bv")).cast("double"))),
            6).as("cosine")),
      k)
  }

  /** Embedding-cosine near-duplicate pairs within a bucket: the
    * similarity-search form of near-dup detection (threshold on the
    * 6-dp-rounded cosine keeps the cut reproducible).
    *
    * Skew-safe triangle decomposition: a naive `join(b, "bucket")`
    * lands a B-row hot bucket's entire B²/2 pair workload on ONE
    * reducer — the quadratic straggler that kills the job at 100 TB.
    * Instead each row gets a deterministic sub-block `hash(id) mod S`,
    * and the self-join key becomes `(bucket, blockA, blockB)` with
    * blockA ≤ blockB: a row in block p enters the join once per
    * unordered block pair it can touch (as the left side for partners
    * ≥ p, as the right side for partners ≤ p), so every unordered row
    * pair meets on exactly one of the S(S+1)/2 keys. The hot bucket's
    * work spreads across those keys — max per-task pair count drops
    * from B²/2 to (B/S)² — while the OUTPUT is bit-identical to the
    * all-pairs semantics (the oracle doesn't change; only the shuffle
    * layout does). Replication cost: each row is shipped S+1 times —
    * the standard triangle-join trade (Okcan & Riedewald, SIGMOD '11
    * theta-join partitioning).
    */
  def nearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bucketCol: String,
      threshold: Double,
      subBlocks: Int = 8): DataFrame = {
    require(subBlocks >= 1, "subBlocks must be >= 1")
    val blk = pmod(xxhash64(col(idCol)), lit(subBlocks.toLong)).cast("int")
    val left = corpus
      .select(col(idCol).as("id_a"), col(bucketCol).as("bucket"), col(vecCol).as("va"),
        blk.as("ba"))
      .withColumn("bb", explode(sequence(col("ba"), lit(subBlocks - 1))))
    val right = corpus
      .select(col(idCol).as("id_b"), col(bucketCol).as("bucket"), col(vecCol).as("vb"),
        blk.as("bb"))
      .withColumn("ba", explode(sequence(lit(0), col("bb"))))
    left.join(right, Seq("bucket", "ba", "bb"))
      // diagonal keys pair a block with itself: keep each pair once
      .filter(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .select(
        // cosine is symmetric, so the pair can be emitted id-ordered
        // regardless of which block side each row arrived on
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-bucket centroids (the reduce step of IVF coarse quantization /
    * one k-means iteration): bucket → dense centroid array.
    */
  def centroids(corpus: DataFrame, bucketCol: String, vecCol: String): DataFrame =
    graft.operators.Scans.spreadSmall(
      corpus.select(col(bucketCol), col(vecCol)), col(bucketCol))
      .select(col(bucketCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(bucketCol), col("pos"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col(bucketCol), transform(col("pc"), x => x.getField("c")).as("centroid"))

  /** Full IVF search path: each query probes its `nprobe` nearest
    * centroid lists, then ranks candidates drawn ONLY from those lists.
    * This is the complete coarse-quantizer ANN: per-query cost is
    * nprobe × (corpus / numLists) instead of the corpus — the recall /
    * cost dial every large-scale vector store exposes.
    *
    * Scale shape: the centroid table is tiny (numLists rows) and
    * broadcast; the probe assignment is a narrow map over queries; the
    * candidate join shuffles on the list id, so each list's vectors
    * co-locate with the queries probing them.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      listCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids(corpus, listCol, vecCol)
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col(listCol))
    // |cents| cosines per query row run scan-side — spread a
    // single-split scan first (no-op at real scale).
    val probes = graft.operators.Scans.spreadSmall(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), col("qid"))
      .crossJoin(broadcast(cents))
      .select(
        col("qid"), col("qv"), col(listCol),
        round(cosine(col("qv"), col("centroid")), 6).as("ccos"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col(listCol))
    val b = corpus.select(col(idCol).as("bid"), col(listCol), col(vecCol).as("bv"))
    // Pin the candidates join's width WHEN THE OPTIMIZER IS BLIND to
    // the corpus size (checkpoint/join-derived inputs — the e19b/e19c/
    // e22/e24 builds): the join's inputs are tiny BYTES but the
    // projection computes |q|·(list population) cosines, and AQE's
    // byte-sized coalescing packs that onto ONE reducer at gate scale
    // (measured 1.9–2.7 s single-task). Repartitioning the PROBES side
    // on the join key REPLACES the join's own ENSURE_REQUIREMENTS
    // exchange — same exchange count at every scale — while its
    // REPARTITION_BY_NUM origin makes the join non-coalescible, so
    // scoring keeps the session width (optimization r18; guide §2.5).
    // Where stats are visible (parquet-backed corpora) the planner's
    // own broadcast/coalesce choices measured faster — no pin. Trade-
    // off documented in OPTIMIZATION_r18.md: the pin disables AQE
    // skew-split for this join; hot lists are [[knnGraphRebalanced]]'s
    // job.
    val probesIn =
      if (graft.operators.Scans.statsBlind(b))
        probes.repartition(
          corpus.sparkSession.sessionState.conf.numShufflePartitions, col(listCol))
      else probes
    rank(
      probesIn.join(b, listCol)
        .filter(col("qid") =!= col("bid"))
        .select(col("qid"), col("bid"), round(cosine(col("qv"), col("bv")), 6).as("cosine")),
      k)
  }

  /** Full IVF build loop: Lloyd k-means iterations under cosine —
    * `iters` rounds of (centroids of current lists → reassign every
    * vector to its nearest centroid). Init comes from any existing
    * bucket column (coarse labels, an LSH bucket, a hash). Returns the
    * final (id, list, cosine) assignment; feed it to [[ivfTopK]] as the
    * list column.
    *
    * Engine-exact by construction: centroids are quantized to 6
    * decimals BETWEEN rounds, so both engines enter every iteration
    * with bit-identical inputs and float-summation order can never
    * drift an assignment — the same determinism trick as the int8
    * quantization in [[quantize]], applied to the iteration boundary.
    *
    * Scale shape per round: one shuffle for the centroid reduce
    * (map-side partial column sums), centroid table broadcast (numLists
    * rows), assignment is a narrow map + per-id window on a bounded
    * candidate set — no joins between big relations.
    */
  def kmeansIterate(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      initBucketCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    var assigned = corpus.select(
      col(idCol), col(vecCol).as("__vec"), col(initBucketCol).as("list"),
      lit(null).cast("double").as("cosine"))
    (1 to iters).foreach { _ =>
      val cents = centroids(
        assigned.select(col(idCol), col("__vec").as(vecCol), col("list")), "list", vecCol)
        .select(col("list"), transform(col("centroid"), x => round(x, 6)).as("centroid"))
      val scored = assigned.select(col(idCol), col("__vec"))
        .crossJoin(broadcast(cents))
        .select(col(idCol), col("__vec"), col("list"),
          round(cosine(col("__vec"), col("centroid")), 6).as("cosine"))
      val w = Window.partitionBy(col(idCol)).orderBy(col("cosine").desc, col("list"))
      assigned = scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col(idCol), col("__vec"), col("list"), col("cosine"))
    }
    assigned.select(col(idCol), col("list"), col("cosine"))
  }

  /** k-NN GRAPH construction: every corpus vector is simultaneously a
    * query and a candidate, giving the neighbour graph that clustering,
    * SemDeDup-style pruning and label propagation all consume. Edges
    * are the IVF top-k of each vector (probe `nprobe` nearest lists,
    * rank candidates only from those lists); the `mutual` flag marks
    * edges whose reverse edge also survived — the mutual-kNN subgraph
    * is the standard noise-robust variant.
    *
    * Scale shape: identical to [[ivfTopK]] with queries = corpus — the
    * centroid table stays broadcast, the candidate join shuffles on the
    * list id (per-vector candidate count is nprobe · corpus/numLists,
    * never the corpus), and the mutual check is one self-join of the
    * N·k edge list on its own key. Nothing here is quadratic in the
    * corpus — PROVIDED list populations are bounded; over a drifted
    * corpus use [[knnGraphRebalanced]], which splits over-full lists
    * first and is the production default.
    */
  def knnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      listCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val edges = ivfTopK(corpus, corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, listCol, k, nprobe)
    val rev = edges.select(col("bid").as("qid"), col("qid").as("bid"), lit(1L).as("__rev"))
    edges.join(rev, Seq("qid", "bid"), "left_outer")
      .select(col("qid"), col("rank"), col("bid"), col("cosine"),
        when(col("__rev") === 1L, 1L).otherwise(0L).as("mutual"))
  }

  /** The DEFAULT production kNN-graph path for drifted / skewed lists:
    * REBALANCE FIRST, then build the graph. [[knnGraph]]'s per-vector
    * candidate cost is the probed lists' population — over a drifted
    * corpus the hot lists grow toward N and the build degrades toward
    * N²/L on exactly the vectors that probe them (round-11 stress:
    * 21× at ×10 corpora on frozen lists; 1.85× with a pre-split at
    * −2.5 pp recall). The split routes by the worst list's required
    * fan-out k = ⌈max-list/target⌉. SPARSE DRIFT (k ≤ 2, a few hot
    * lists): [[Rebalance.splitLists]]'s seeded 2-means repeated until
    * every list fits — O(drift) per pass, geometry-respecting seeds.
    * UNIFORM GROWTH (k > 2, the corpus outgrew the list count): ONE
    * [[Rebalance.splitListsK]] pass plus at most ONE 2-way residual,
    * ACCEPTING residual overage — the ×10 measurement (47.8 s vs the
    * 2-way ladder's 62.6 s one-shot, recall 0.965 vs 0.960, PLANS.md
    * round-12/13 k-way rows) showed Lloyd's geometry-balanced
    * (fewer, fatter) lists serve BETTER at equal probe width than a
    * ladder that grinds every count under the bound. Deterministic
    * end-to-end (both split paths and the graph carry the 6-dp/
    * id-tiebreak discipline), so the composition is oracle-able —
    * gate `e19c_knn_graph_rebalanced`.
    *
    * `targetListSize` picks the bound: 0 (default) = relative, 21/20
    * of the CURRENT mean — the skew guard the gate pins (oracle-able
    * at every scale, one pass on the gate corpora); an explicit value
    * = absolute — the production knob for a growing corpus, where L
    * must grow with N (a relative bound tracks the mean, which itself
    * grows when the list count is frozen; the ×10 stress row uses
    * target 500, the round-11-measured 1.85× configuration).
    *
    * Each pass's assignment — and the final one — is eagerly
    * localCheckpoint'ed: the graph build references its corpus several
    * times (centroids, candidates, queries), and an un-severed split
    * lineage would re-execute the whole Lloyd chain per reference
    * (measured 4× the checkpointed wall at ×10).
    *
    * `assertPasses` > 0 makes the composition fail LOUDLY if the
    * corpus needs more than that many split passes, or a k-way
    * (k > 2) pass: the oracle gates replay EXACTLY one 2-way pass, so
    * a corpus that outgrows that shape must error with the reason —
    * not silently hash-diverge. Production callers leave it 0.
    */
  def knnGraphRebalanced(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      listCol: String,
      k: Int,
      nprobe: Int,
      targetListSize: Long = 0L,
      maxPasses: Int = 8,
      assertPasses: Int = 0): DataFrame = {
    val asn = corpus.select(col(idCol), col(listCol).cast("long").as(listCol))
    val r = asn.agg(count(lit(1)), countDistinct(col(listCol))).collect()(0)
    val (nTotal, nLists) = (r.getLong(0), r.getLong(1))
    val maxSz =
      if (targetListSize > 0L) targetListSize
      else (21L * nTotal) / (20L * nLists)
    // Checkpoints.eager (NOT Dataset.localCheckpoint + unpersist: that
    // unpersist is a no-op — the checkpoint persists at the RDD level)
    // so each pass's blocks are actually freed when the next pass lands.
    var (cur, lastTok) = graft.operators.Checkpoints.eager(asn)
    var offset = nLists
    var pass = 0
    var maxNow = cur.groupBy(col(listCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect()(0).getLong(0)
    def recount(): Long = cur.groupBy(col(listCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect()(0).getLong(0)
    def ckpt(df: DataFrame): Unit = {
      val (c, t) = graft.operators.Checkpoints.eager(df)
      cur = c
      lastTok.free()
      lastTok = t
    }
    val kInit = if (maxNow > maxSz) (maxNow + maxSz - 1) / maxSz else 1L
    if (assertPasses > 0 && kInit > 2)
      throw new IllegalStateException(
        s"knnGraphRebalanced: corpus needs a k=$kInit split (max list " +
          s"$maxNow > bound $maxSz) but the caller pinned a 2-way oracle")
    if (kInit > 2) {
      // UNIFORM GROWTH (the worst list needs a fan-out > 2): the
      // measured production configuration is ONE k-way pass plus at
      // most ONE 2-way residual pass, ACCEPTING any residual overage —
      // Lloyd balances geometry, not counts, and the resulting fewer,
      // fatter, better-shaped lists served BETTER at equal probe width
      // (×10 probe: recall 0.965 vs 0.960 at ~2× lower split+build
      // wall than the 2-way ladder that grinds every list under the
      // bound; PLANS.md round-12/13 k-way rows).
      ckpt(Rebalance.splitListsK(
        cur, corpus.select(col(idCol), col(vecCol)), idCol, vecCol, listCol,
        maxSz, newListOffset = offset, iters = 2)._1)
      offset *= kInit
      maxNow = recount()
      if (maxNow > maxSz) {
        ckpt(Rebalance.splitLists(
          cur, corpus.select(col(idCol), col(vecCol)), idCol, vecCol, listCol,
          maxSz, newListOffset = offset, iters = 2))
        offset *= 2
        maxNow = recount()
      }
    } else {
      // SPARSE DRIFT (k <= 2 — a few hot lists): the seeded 2-way
      // pass, repeated until every list fits the bound. A 2-way split
      // of a list <= 2·maxSz can never need k > 2 later, so this
      // branch stays 2-way by construction.
      while (maxNow > maxSz && pass < maxPasses) {
        if (assertPasses > 0 && pass >= assertPasses)
          throw new IllegalStateException(
            s"knnGraphRebalanced: corpus needs a pass ${pass + 1} (max list " +
              s"$maxNow > bound $maxSz) but the caller pinned $assertPasses — " +
              "the oracle replays exactly that many; extend it before widening")
        ckpt(Rebalance.splitLists(
          cur, corpus.select(col(idCol), col(vecCol)), idCol, vecCol, listCol,
          maxSz, newListOffset = offset, iters = 2))
        maxNow = recount()
        offset *= 2
        pass += 1
      }
    }
    knnGraph(
      corpus.drop(listCol).join(cur, idCol),
      idCol, vecCol, listCol, k, nprobe)
  }

  /** Symmetrized edge set of a directed kNN graph: edges ∪ reversed,
    * distinct, as `(src, dst)` — the build-time artifact a graph-ANN
    * SERVER materializes once (HNSW keeps bidirectional links for the
    * same reason), so that [[beamSearchKnn]] with
    * `presymmetrized = true` never re-pays the N·k union+distinct
    * shuffle per query batch. Gate `e21b` serves from exactly this
    * table; [[graft.streaming.GraphIndexStream]] maintains the directed
    * form incrementally and symmetrization stays a one-pass derivation.
    */
  def symmetrize(graph: DataFrame): DataFrame = {
    val fwd = graph.select(col("qid"), col("bid"))
    fwd.unionByName(fwd.select(col("bid").as("qid"), col("qid").as("bid")))
      .distinct()
  }

  /** Driver bytes of a vector element in the walk's shard: the collected
    * row's boxed float (24 B) and its double copy (8 B).
    */
  private[similarity] val VectorElemBytes = 32L

  /** Driver bytes of an edge's adjacency entry, per direction held. */
  private[similarity] val AdjacencyEntryBytes = 72L

  /** The walk's exact score: double cosine (left-to-right fold — the
    * [[graft.functions.CosineSimilarity]] loop) rounded with Spark's
    * `round(_, 6)` semantics (HALF_UP via BigDecimal; NaN/Inf pass
    * through, exactly `Round`'s double branch).
    */
  private def cosRound6(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1
    }
    val c = dot / (math.sqrt(xx) * math.sqrt(yy))
    if (c.isNaN || c.isInfinite) c
    else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def vecToDouble(v: Any): Array[Double] = v match {
    case null => null
    case s: scala.collection.Seq[_] =>
      val out = new Array[Double](s.length)
      var i = 0
      val it = s.iterator
      while (it.hasNext) {
        out(i) = it.next() match {
          case null => return null
          case n: Number => n.doubleValue()
        }
        i += 1
      }
      out
    case _ => null
  }

  /** GRAPH-BASED ANN serving — batched best-first (beam) search over a
    * [[knnGraph]] edge table, HNSW's layer-0 search. The directed kNN
    * edges are SYMMETRIZED first (a directed kNN graph strands queries
    * whose true neighbours point AT the frontier; symmetrizing alone
    * lifted the gate panel's recall@5 from 0.04–0.10 to 0.18–0.22). Per
    * hop, every beam entry expands to its neighbours, beam ∪ neighbours
    * is re-ranked by exact cosine against the query and the best
    * `beamWidth` survive; after `hops` hops the top `k` come back as
    * `(qid, rank, bid, cosine)`. Entries are a caller-chosen id set (one
    * per coarse list spreads the starts as HNSW's upper layers do).
    * Deterministic (6-dp cosine + id tiebreak), so the walk is
    * oracle-able as unrolled SQL hops.
    *
    * When the query batch, the corpus vectors and the edge table fit the
    * `Ann.beamSearchKnn` [[DriverBound]] together, the three are
    * collected and every hop is driver compute with zero Spark jobs — a
    * graph-ANN index shard serving from RAM ([[walkShard]]). Otherwise,
    * or when ids are not integral, [[beamSearchKnnDistributed]] runs;
    * both give identical output (spec-pinned in BeamSearchSpec).
    */
  def beamSearchKnn(
      graph: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      entries: DataFrame,
      beamWidth: Int,
      hops: Int,
      k: Int,
      presymmetrized: Boolean = false,
      entryPairs: DataFrame = null,
      excludeSelf: Boolean = true): DataFrame = {
    require((entries != null) ^ (entryPairs != null),
      "beamSearchKnn: pass exactly one of entries (global start set) / " +
        "entryPairs (per-query seeds)")
    val spark = corpus.sparkSession
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val qidType = queries.schema(idCol).dataType
    val bidType = corpus.schema(idCol).dataType
    // The driver walk keys its maps on LONG ids: a non-integral id type
    // (where the cast could silently null) routes to the distributed
    // loop, which never casts.
    val integralIds = Seq(qidType, bidType).forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    DriverBound("Ann.beamSearchKnn", spark) { sw =>
      val shard =
        if (integralIds) driverShard(sw, graph, corpus, queries, idCol, vecCol, presymmetrized)
        else { sw.distributed(); None }
      shard.map { case (qRows, mem, adj) =>
        walkShard(spark, qRows, mem, adj, entries, entryPairs, beamWidth, hops, k, excludeSelf)
          .select(col("qid").cast(qidType).as("qid"), col("rank"),
            col("bid").cast(bidType).as("bid"), col("cosine"))
      }.getOrElse(beamSearchKnnDistributed(graph, corpus, queries, idCol, vecCol,
        entries, beamWidth, hops, k, presymmetrized, entryPairs, excludeSelf))
    }
  }

  /** The walk's shard — query rows `(qid, qv)`, corpus vectors and
    * adjacency by id — when the three fit `sw`, each row at its schema's
    * [[DriverBound.rowBytes]] plus [[VectorElemBytes]] per element of the
    * batch's vector dimension (read from its first row) or
    * [[AdjacencyEntryBytes]] per edge direction held. An empty batch
    * holds nothing more: its walk has nothing to score.
    */
  private def driverShard(sw: DriverBound.Switch, graph: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          presymmetrized: Boolean)
      : Option[(Array[Row], Map[Long, Array[Double]], Map[Long, Array[Long]])] = {
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
    val base = corpus.select(col(idCol).cast("long").as("bid"), col(vecCol).as("bv"))
    val fwd = graph.select(
      col("qid").cast("long").as("__src"), col("bid").cast("long").as("__dst"))
    val dim = sw.measure(q.select(size(col("qv"))).head(1)).headOption
      .filterNot(_.isNullAt(0)).fold(0L)(r => math.max(0, r.getInt(0)).toLong)
    val vecBytes = dim * VectorElemBytes
    val edgeBytes = DriverBound.rowBytes(fwd.schema) +
      (if (presymmetrized) 1L else 2L) * AdjacencyEntryBytes
    def held(df: DataFrame, bytesPerRow: Long, empty: Boolean) =
      if (empty) Some(Array.empty[Row]) else sw.collect(df, bytesPerRow)
    for {
      qRows <- sw.collect(q, DriverBound.rowBytes(q.schema) + vecBytes)
      cRows <- held(base, DriverBound.rowBytes(base.schema) + vecBytes, qRows.isEmpty)
      eRows <- held(fwd, edgeBytes, qRows.isEmpty)
    } yield {
      val mem = cRows.iterator.flatMap { r =>
        Option(vecToDouble(r.get(1))).map(v => r.getLong(0) -> v)
      }.toMap
      val set = scala.collection.mutable.HashSet[(Long, Long)]()
      eRows.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        set += ((s, d))
        if (!presymmetrized) set += ((d, s))
      }
      (qRows, mem, set.toArray.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) })
    }
  }

  /** The driver-held frontier walk over an in-memory shard: output
    * `(qid, rank, bid, cosine)` with long ids.
    */
  private def walkShard(spark: SparkSession, qRows: Array[Row],
                        memCorpus: Map[Long, Array[Double]], memAdj: Map[Long, Array[Long]],
                        entries: DataFrame, entryPairs: DataFrame, beamWidth: Int,
                        hops: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    // THE FRONTIER LIVES ON THE DRIVER (optimization rounds 17–18): a
    // per-hop checkpoint + window re-rank cost 4–6 scheduler round-trips
    // a hop (e22b: 159 jobs / 5.6 s wall for 1.6 s of executor time).
    // A pair is never re-scored, and scores are deterministic
    // ([[cosRound6]], id tiebreak), so a hop that leaves every beam
    // unchanged fixes all later beams — the remaining hops are skipped.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val qids: Array[Long] = qRows.map(_.getLong(0))
    val scoreCache = scala.collection.mutable.HashMap[(Long, Long), Double]()
    // a null/absent query vector is unscorable (dropped)
    val qvecD: Map[Long, Array[Double]] =
      qRows.iterator.flatMap { r =>
        Option(vecToDouble(r.get(1))).map(v => r.getLong(0) -> v)
      }.toMap
    def score(pairs: Seq[(Long, Long)]): Unit =
      // qvecD.get: a seed pair whose qid has no query vector (entryPairs
      // row outside the batch) is silently unscorable — the distributed
      // loop's inner join against the query set drops it; so does this.
      pairs.filterNot(scoreCache.contains).foreach { case (q, b) =>
        for (qv <- qvecD.get(q); bv <- memCorpus.get(b))
          scoreCache((q, b)) = cosRound6(qv, bv)
      }
    // Beam ordering = the old window's (cosine desc, bid asc) with
    // Spark's double total order (NaN greatest, -0.0 < 0.0).
    val ord = Ordering.Tuple2(
      Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    // scoreCache.get, not apply: a candidate with no score is a
    // DANGLING id (edge to a node outside the corpus, entry not in the
    // corpus) — the old shape's inner join against the corpus dropped
    // such ids from the beam; so does this.
    def topBeam(qid: Long, cand: Iterable[Long], width: Int): Array[Long] =
      cand.iterator
        .flatMap(b => scoreCache.get((qid, b)).map(s => (s, b)))
        .toArray.sortBy(identity)(ord)
        .take(width).map(_._2)
    def noSelf(qid: Long, ids: Iterable[Long]): Iterable[Long] =
      if (excludeSelf) ids.filter(_ != qid) else ids

    // Hop 0: every query starts at the GLOBAL entry ids (e21) or its
    // PER-QUERY `entryPairs` (e22: a coarser layer's walk picked them),
    // minus itself (e1's convention). `excludeSelf = false` is the
    // representative walk: [[expandClones]] excludes self per member.
    val seeds: Map[Long, Seq[Long]] =
      if (entryPairs != null) {
        val ps = entryPairs.select(
          col("qid").cast("long"), col("bid").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ps.groupBy(_._1).map { case (q, rs) =>
          q -> noSelf(q, rs.map(_._2).toSeq).toSeq.distinct }
      } else {
        val es = entries.toDF("bid").select(col("bid").cast("long")).collect()
          .map(_.getLong(0)).toSeq.distinct
        qids.map(q => q -> noSelf(q, es).toSeq).toMap
      }
    score(seeds.toSeq.flatMap { case (q, bs) => bs.map(q -> _) })
    var beam: Map[Long, Array[Long]] = seeds.map { case (q, bs) =>
      q -> topBeam(q, bs, beamWidth) }
    var hop = 0
    var converged = false
    while (hop < hops && !converged) {
      val cand: Map[Long, Seq[Long]] = beam.map { case (q, bs) =>
        q -> (noSelf(q, bs.iterator.flatMap(memAdj.getOrElse(_, Array.empty[Long])).toSeq)
          .toSeq ++ bs)
          .distinct
      }
      score(cand.toSeq.flatMap { case (q, bs) => bs.map(q -> _) })
      val next = cand.map { case (q, bs) => q -> topBeam(q, bs, beamWidth) }
      // Deterministic fixed point: unchanged beams reproduce themselves
      // on every later hop (same candidates → same scores → same rank),
      // so the remaining hops are provably identity — skip them.
      converged = beam.forall { case (q, bs) =>
        java.util.Arrays.equals(bs, next(q)) }
      beam = next
      hop += 1
    }
    val out = beam.toSeq.sortBy(_._1).flatMap { case (q, bs) =>
      bs.take(k).zipWithIndex.map { case (b, i) =>
        Row(q, (i + 1).toLong, b, scoreCache((q, b)))
      }
    }
    spark.createDataFrame(
      out.asJava,
      StructType(Seq(
        StructField("qid", LongType, nullable = false),
        StructField("rank", LongType, nullable = false),
        StructField("bid", LongType, nullable = false),
        StructField("cosine", DoubleType, nullable = true))))
  }

  /** The distributed per-hop loop — [[beamSearchKnn]]'s fallback when
    * its shard does not fit the driver budget (or ids are not
    * integral): every hop is one broadcast-joined neighbour expansion
    * over the edge table plus one broadcast-joined re-rank over the
    * corpus, frontier checkpointed per hop. Identical output to the
    * driver walk (same 6-dp cosine, same (cosine desc, bid) ranking,
    * an unscorable pair with a null vector dropped — spec-pinned
    * equality in BeamSearchSpec); the frontier here is
    * |queries|·beam·(degree+1) rows and never lives on the driver, so
    * a corpus-sized query set runs at cluster scale.
    */
  private def beamSearchKnnDistributed(
      graph: DataFrame, corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      entries: DataFrame, beamWidth: Int, hops: Int, k: Int, presymmetrized: Boolean,
      entryPairs: DataFrame, excludeSelf: Boolean): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val base = corpus.select(col(idCol).as("bid"), col(vecCol).as("bv"))
    val fwd = graph.select(col("qid").as("__src"), col("bid").as("__dst"))
    val (edges, edgeTok) =
      if (presymmetrized) (fwd, graft.operators.Checkpoints.none(fwd))
      else graft.operators.Checkpoints.eager(
        fwd.unionByName(fwd.select(col("__dst").as("__src"), col("__src").as("__dst")))
          .distinct())
    val beamW = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("bid"))
    def rescore(cand: DataFrame): DataFrame =
      base.join(broadcast(cand.join(q, "qid")), Seq("bid"))
        .select(col("qid"), col("bid"),
          round(cosine(col("qv"), col("bv")), 6).as("cosine"))
        .filter(col("cosine").isNotNull)
        .withColumn("__r", row_number().over(beamW))
        .filter(col("__r") <= beamWidth)
        .select(col("qid"), col("bid"), col("cosine"))
    def noSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.where(col("qid") =!= col("bid")) else df
    val seed0 =
      if (entryPairs != null) noSelf(entryPairs.select(col("qid"), col("bid")))
      else noSelf(q.select(col("qid")).crossJoin(broadcast(entries.toDF("bid"))))
    var (beam, tok) = graft.operators.Checkpoints.eager(rescore(seed0))
    for (_ <- 1 to hops) {
      val cand = noSelf(
        edges.join(broadcast(beam), beam("bid") === col("__src"))
          .select(col("qid"), col("__dst").as("bid")))
        .unionByName(beam.select(col("qid"), col("bid")))
        .distinct()
      val (ck, t) = graft.operators.Checkpoints.eager(rescore(cand))
      tok.free()
      beam = ck
      tok = t
    }
    edgeTok.free()
    beam
      .withColumn("rank", row_number().over(beamW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("bid"), col("cosine"))
  }

  /** One node's candidate row for [[selectDiverse]]: candidates arrive
    * rank-ordered (6-dp cosine desc, id asc) with their vectors.
    */
  private[similarity] case class DiverseCand(
      rank: Long, bid: Long, cosine: Double, bv: Seq[Float])

  /** HNSW's select-neighbors heuristic (Malkov & Yashunin, Alg. 4) as
    * a deterministic per-node fold: walk the candidates in rank order
    * and KEEP one only if it is strictly closer to the node than to
    * every already-kept neighbour (on the 6-dp rounded cosine, so both
    * engines compare identical values; ties are dominated → dropped),
    * stopping at `keep`. A plain top-k graph on a corpus with repeated
    * or tightly-clustered vectors spends ALL its edges inside the
    * cluster (clone-cliques) and the graph stops being navigable — the
    * round-16 sweep measured the layer descent capping at 0.50–0.60
    * recall at ×100 corpora (100 exact clones per position) where the
    * diversified build restores it. Bounded local work: each node's
    * selection sees ≤ kCand candidates (collect_list of kCand small
    * structs — never corpus-scale), all pair cosines computed inside
    * the fold; the only shuffle is the candidate generation itself.
    */
  def selectDiverse(candidates: DataFrame, keep: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // Width pin (r18, same rationale as ivfTopK's candidates join): the
    // per-node selection fold computes ≤ kCand² pair cosines per GROUP,
    // so the group exchange carries tiny bytes but amplified compute;
    // repartitioning on the group key REPLACES the aggregation's own
    // exchange and keeps AQE from coalescing the fold onto one reducer.
    candidates
      .select(col("qid").cast("long").as("qid"), col("rank"), col("bid"),
        col("cosine"), col("bv"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("qid"))
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(
        col("rank").cast("long").as("rank"), col("bid").cast("long").as("bid"),
        col("cosine"), col("bv")))).as("cands"))
      .as[(Long, Seq[DiverseCand])]
      .flatMap { case (qid, cands) =>
        val kept = scala.collection.mutable.ArrayBuffer[(DiverseCand, Array[Double])]()
        cands.iterator.takeWhile(_ => kept.size < keep).foreach { c =>
          val v = c.bv.iterator.map(_.toDouble).toArray
          // c.cosine is already 6-dp. A zero vector's 0/0 is NaN here and
          // in Spark's round alike, and NaN < x is false: dominated.
          if (kept.forall { case (_, sv) => cosRound6(v, sv) < c.cosine }) kept += ((c, v))
        }
        kept.zipWithIndex.map { case ((c, _), i) =>
          (qid, (i + 1).toLong, c.bid, c.cosine)
        }
      }
      .toDF("qid", "rank", "bid", "cosine")
  }

  /** kNN graph with HNSW-diversified edges: generate `kCand` IVF
    * candidates per node ([[ivfTopK]] with queries = corpus), then
    * [[selectDiverse]] keeps ≤ `keep` of them. `kCand` must exceed the
    * corpus' worst clone/cluster multiplicity or the candidate pool is
    * all clones before diversity can act (the ×100 probe runs
    * kCand = 64 against ~100-clone positions and measures the recall
    * it buys).
    */
  def knnGraphDiverse(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      listCol: String,
      kCand: Int,
      keep: Int,
      nprobe: Int): DataFrame = {
    val cand = ivfTopK(corpus, corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, listCol, kCand, nprobe)
    selectDiverse(
      cand.join(
        corpus.select(col(idCol).as("bid"), col(vecCol).as("bv")), "bid"),
      keep)
  }

  /** Exact-duplicate collapse before graph indexing: every vector maps
    * to its REPRESENTATIVE — the min id among bitwise-equal vectors.
    * Exact clones are the one degeneracy neither plain top-k edges nor
    * HNSW's select-neighbors can route around (a kept clone sits AT the
    * query's position, so every other candidate ties and is dominated —
    * spec-pinned in `HnswSpec`); production vector stores dedup first
    * for the same reason. The graph indexes representatives only;
    * [[expandClones]] restores the clones at serving, EXACTLY (clones
    * share every cosine, so the expanded re-rank reproduces the
    * full-corpus brute ranking). One shuffle — keyed by a 128-bit md5
    * of the vector's canonical rendering rather than the raw array: at
    * production dims the full embedding as sort/exchange key is ~an
    * order of magnitude more bytes through the shuffle than the digest.
    * Canonicalization matches Spark's own grouping semantics for
    * floats: `+ 0.0f` folds −0.0 onto 0.0 (IEEE) the way Spark
    * normalizes grouping keys, and every NaN renders as "NaN".
    */
  /** 128-bit canonical digest of a float-vector column — the
    * duplicate-class key [[representatives]] shuffles on and the
    * admission-time clone lookup ([[graft.streaming.HnswIndexStream]])
    * probes with. `+ 0.0f` folds −0.0 onto 0.0 (IEEE) the way Spark
    * normalizes grouping keys; every NaN renders as "NaN".
    */
  def vectorKey(vec: Column): Column =
    md5(concat_ws(",", transform(vec, x => (x + lit(0.0f)).cast("string"))))

  def representatives(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(
      col(idCol),
      min(col(idCol)).over(Window.partitionBy(vectorKey(col(vecCol)))).as("rep"))

  /** Serve-time clone expansion: replace each retrieved representative
    * by ALL members of its duplicate class (cosine carried over — the
    * vectors are bitwise equal), drop the query itself, re-rank top-k
    * by (cosine desc, id). Frontier-sized join against the id→rep map.
    */
  def expandClones(beam: DataFrame, repMap: DataFrame, idCol: String, k: Int): DataFrame =
    rank(
      beam.select(col("qid"), col("bid"), col("cosine"))
        .join(repMap.select(col("rep").as("bid"), col(idCol).as("__member")), "bid")
        .select(col("qid"), col("__member").as("bid"), col("cosine"))
        .where(col("qid") =!= col("bid")),
      k)

  /** HNSW-style nested layer ladder: rank every vector by a salted md5
    * hash (id tiebreak) via the two-pass [[graft.operators.GlobalRank]]
    * — no single-partition window — and define layer ℓ as the
    * `max(2, ceil(n / fanout^ℓ))` LOWEST-ranked vectors. Prefix ranks
    * make the layers NESTED (layer ℓ+1 ⊆ layer ℓ), exactly HNSW's
    * invariant, with guaranteed occupancy at every corpus size — a
    * per-vector geometric coin (the paper's formulation) leaves small
    * corpora with empty upper layers, which a static oracle cannot
    * replay. Deterministic end-to-end: the hash is the house salted-md5
    * prefix ([[graft.operators.Sampling]]'s convention), so DuckDB
    * replays the ladder with one ROW_NUMBER.
    *
    * Scale shape: the rank is a narrow (hash, id) two-pass range
    * partition — the same cost class as the t37 shard layout the
    * pipeline already pays; everything downstream is layer-sized.
    */
  /** The ladder's salted id hash (first 7 md5 hex chars as a long) —
    * shared by [[hnswRanks]] and the streaming twin's arrival LEVEL
    * assignment, so an arrival's level under the frozen thresholds is
    * exactly the level a rebuild's rank would give it.
    */
  def hnswHash(id: Column, salt: String = "hnsw"): Column =
    conv(
      substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 7),
      16, 10).cast("long")

  def hnswRanks(corpus: DataFrame, idCol: String, salt: String = "hnsw"): DataFrame =
    graft.operators.GlobalRank.withGlobalRank(
      corpus.select(col(idCol), hnswHash(col(idCol), salt).as("__h")), "hrank",
      col("__h"), col(idCol))._1
      .select(col(idCol), col("hrank"))

  /** Members of layer `layer` (≥ 1): `max(2, ceil(n / fanout^layer))`. */
  def layerSize(n: Long, layer: Int, fanout: Long = 8L): Long = {
    val denom = math.pow(fanout.toDouble, layer.toDouble)
    math.max(2L, math.ceil(n.toDouble / denom).toLong)
  }

  /** Hierarchical (HNSW-family) ANN search: descend the upper layers —
    * a narrow beam walk per layer over that layer's symmetrized kNN
    * edges, seeded by the layer above — then run the full-width layer-0
    * [[beamSearchKnn]] from the per-query entries the descent found.
    *
    * `layerEdges` are the SYMMETRIZED edge tables TOP layer first,
    * layer 0 LAST; `topEntries` is the global start set (the lowest-
    * ranked ids — members of every layer by nesting). Every stage is
    * the same serving function, so determinism (6-dp cosine, id
    * tiebreaks) and the zero-corpus-shuffle hop shape are inherited.
    *
    * Why this exists (and the measured case got STRONGER in round 17:
    * on 200-query/1 000-slot panels the flat-entry arm reads
    * 0.87/0.39/0.22 recall at ×1/×10/×100 while this ladder holds
    * 0.96/1.00/1.00 — PLANS.md, "Round-17 graph-tier recall on
    * 200-query panels"; the r16 "flat recovers 1.00 at ×10" reading
    * was 50-slot panel luck):
    * the flat convention starts every query at 2 ids PER COARSE LIST,
    * so hop 0 rescores |q|·2·lists candidates — and the list count
    * grows with the corpus (×100 corpora = 1 000 lists = 2 000 entry
    * rescores per query). The descent replaces that with a constant
    * 2-entry start and ≤ beamUpper·(degree+1)·hopsUpper work per upper
    * layer — logarithmic layers, corpus-independent each. The ×100
    * probe rows in PLANS.md round-16 carry the measured crossover.
    */
  def hnswSearch(
      layerEdges: Seq[DataFrame],
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topEntries: DataFrame,
      beamUpper: Int,
      hopsUpper: Int,
      beamWidth: Int,
      hops: Int,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(layerEdges.nonEmpty, "need at least the layer-0 edge table")
    var pairs: DataFrame = null
    layerEdges.dropRight(1).foreach { upper =>
      pairs = beamSearchKnn(
        upper, corpus, queries, idCol, vecCol,
        entries = if (pairs == null) topEntries else null,
        beamWidth = beamUpper, hops = hopsUpper, k = beamUpper,
        presymmetrized = true, entryPairs = pairs, excludeSelf = excludeSelf)
        .select(col("qid"), col("bid"))
    }
    beamSearchKnn(
      layerEdges.last, corpus, queries, idCol, vecCol,
      entries = if (pairs == null) topEntries else null,
      beamWidth = beamWidth, hops = hops, k = k,
      presymmetrized = true, entryPairs = pairs, excludeSelf = excludeSelf)
  }

  /** Assign each vector to its nearest centroid (by cosine) — the other
    * half of an IVF build / k-means iteration.
    */
  def assign(corpus: DataFrame, cents: DataFrame, idCol: String, vecCol: String,
      bucketCol: String): DataFrame = {
    val scored = graft.operators.Scans.spreadSmall(
      corpus.select(col(idCol), col(vecCol)), col(idCol))
      .crossJoin(broadcast(cents.select(col(bucketCol), col("centroid"))))
      .select(col(idCol), col(bucketCol),
        round(cosine(col(vecCol), col("centroid")), 6).as("cosine"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("cosine").desc, col(bucketCol))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col(idCol), col(bucketCol), col("cosine"))
  }
}
