package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.{BpeTrainer, SuffixArray}

/** Incremental TOKEN-SPACE exact-substring dedup — the streaming twin
  * of the sa6 batch gate: the full shape Lee et al. 2022 ship (dedup
  * the TOKENIZED corpus, so removed-span boundaries land on token
  * edges by construction), run as the two-mode loop [[SaDedupStream]]
  * provides in char space.
  *
  *   - **Per-batch ADMISSION** ([[processBatch]]): each arriving
  *     document is ENCODED WITH THE FROZEN BPE MERGES of the last
  *     rebuild (the [[LmScoreStream]] frozen-model discipline — a
  *     tokenizer generation never moves between rebuilds, exactly how
  *     production serves one), then checked against the frozen census:
  *     the md5 fingerprint of every `minTok`-TOKEN window of the
  *     rebuild's cleaned token corpus. Sharing a token span of length
  *     ≥ `minTok` is EXACTLY sharing one of these windows, so the
  *     admission cut (union of matched windows' covered token
  *     positions, one anti-join on `(doc_id, pos)` — the
  *     [[SuffixArray.removeTokenSpansFromLcp]] cut applied to
  *     admission-derived coverage) removes precisely the arrival-side
  *     copy of every token span the frozen corpus already contains,
  *     modulo md5 collision. No state is written at admission.
  *   - **Periodic REBUILD compaction** ([[rebuildCompact]]): RETRAIN
  *     the tokenizer over the accumulated raw corpus (the refreeze —
  *     merges are a rolling artifact, LmScoreStream semantics), run the
  *     full batch token-space dedup
  *     ([[SuffixArray.removeDuplicatedTokenSpans]]), rewrite the
  *     cleaned token rows and regenerate census + merges under one
  *     rebuild-keyed generation.
  *
  * EXACTNESS CONTRACT between rebuilds (spec-pinned,
  * `SaTokenDedupStreamSpec`): arrivals duplicating FROZEN-corpus token
  * spans are caught at admission, bit-identically across a restart and
  * a crash-replayed batch; an arrival copying a span the rebuild
  * REMOVED is NOT cut (the census holds the cleaned corpus — the
  * negative case); arrival-vs-arrival repeats pass admission and are
  * caught at the next rebuild, whose output IS the batch operator over
  * the accumulated corpus under the retrained merges.
  *
  * Scale shape: admission is one narrow frozen-merge encode (word-type
  * memoized map, zero shuffle), a per-doc window slide, and a semi-join
  * into the h-BUCKETED census (16 buckets, sorted — the tiny batch side
  * repartitions to the bucket count, corpus-scale state never
  * re-shuffles); the rebuild is the batch SA build, amortized over its
  * window like every compaction here. State is PARTITIONED BY rebuild
  * generation, claimed per rebuild, MSCK re-adoption
  * ([[StateTables]] discipline).
  */
object SaTokenDedupStream {

  private val Sep = ""

  /** md5 fingerprint of every `minTok`-token window of per-doc token
    * rows `(idCol, pos, tok)` — windows slide over the tokens in pos
    * ORDER (cleaned corpora keep original positions, so post-cut
    * adjacency forms new windows, matching the char twin's census of
    * the cleaned text). Output `(h)` distinct.
    */
  def windowCensus(tokRows: DataFrame, idCol: String, minTok: Int): DataFrame =
    windowStarts(tokRows, idCol, minTok).select(col("h")).distinct()

  /** The same windows WITH their start addressing `(idCol, p, h)` — p
    * the 1-based index into the doc's pos-ordered token SEQUENCE (not
    * the raw pos value), which is the coordinate admission cuts in.
    */
  private def windowStarts(tokRows: DataFrame, idCol: String,
                           minTok: Int): DataFrame =
    tokRows
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("pt"))
      .select(col(idCol), transform(col("pt"), x => x.getField("tok")).as("ts"))
      .filter(size(col("ts")) >= minTok)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("ts")) - (minTok - 1))).as("p"),
        col("ts"))
      .select(col(idCol), col("p"),
        md5(array_join(slice(col("ts"), col("p"), lit(minTok)), Sep)).as("h"))

  /** Freeze a merge table generation to parquet (rank-ordered replay on
    * load — the tokenizer artifact admission serves).
    */
  def saveMerges(spark: SparkSession, merges: Seq[BpeTrainer.Merge],
                 dir: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Re-hydrate a frozen merge generation (rank order restored). */
  def loadMerges(spark: SparkSession, dir: String): Seq[BpeTrainer.Merge] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select(col("rank"), col("left"), col("right"), col("cnt"))
      .as[(Int, String, String, Long)]
      .collect().sortBy(_._1)
      .map { case (r, a, b, c) => BpeTrainer.Merge(r, a, b, c) }.toSeq
  }

  /** REBUILD COMPACTION: retrain the tokenizer over the accumulated raw
    * corpus, run the batch token-space dedup, rewrite cleaned token
    * rows under `stateDir/clean/rebuild=<id>` and regenerate merges +
    * census under the same generation — all idempotent overwrites;
    * admission reads the max-generation merges and the max-batch
    * census partition, so a half-written rebuild stays invisible until
    * its census partition lands (written LAST).
    */
  def rebuildCompact(
      spark: SparkSession,
      rawDocs: DataFrame,
      stateTable: String,
      stateDir: String,
      rebuildId: Long,
      minTok: Int,
      numMerges: Int): Unit = {
    ensureStateTable(spark, stateTable)
    val merges = BpeTrainer.train(rawDocs.select(col("doc_id"), col("text")),
      "text", numMerges)
    saveMerges(spark, merges, s"$stateDir/merges/rebuild=$rebuildId")
    val trows = tokenRows(spark, rawDocs, merges)
    // token ids by lexicographic rank of the token string (the sa5/sa6
    // dict discipline; sepCode = 0 stays below every rank)
    val dict = graft.operators.GlobalRank.withGlobalRank(
      trows.select(col("tok")).distinct(), "code", col("tok"))._1
    val rows = trows.join(dict, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("code"))
    val kept = SuffixArray.removeDuplicatedTokenSpans(
      rawDocs.select(col("doc_id")), rows, "doc_id", sepCode = 0L,
      minLen = minTok.toLong)
    kept.join(dict, Seq("code"))
      .select(col("doc_id"), col("pos"), col("tok"))
      .write.mode("overwrite").parquet(s"$stateDir/clean/rebuild=$rebuildId")
    val census = windowCensus(
      spark.read.parquet(s"$stateDir/clean/rebuild=$rebuildId"),
      "doc_id", minTok)
    StateTables.claim(stateTable, rebuildId, census)
  }

  /** Frozen-merge encode to `(doc_id, pos, tok)` rows (pos 1-based,
    * contiguous) — shared by rebuild, admission and the spec's batch
    * references.
    */
  def tokenRows(spark: SparkSession, docs: DataFrame,
                merges: Seq[BpeTrainer.Merge]): DataFrame =
    BpeTrainer.encode(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", merges)
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1L).as("pos"), col("tok"))

  /** Start the admission stream over a JSONL drop dir. */
  def run(
      spark: SparkSession,
      dropDir: String,
      stateTable: String,
      stateDir: String,
      outDir: String,
      checkpoint: String,
      minTok: Int): StreamingQuery =
    Drops.start(spark, dropDir, Drops.docs, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, stateTable, stateDir, outDir, minTok)
    }

  /** One micro-batch: frozen-merge encode, fingerprint the arrival's
    * token windows, semi-join the latest frozen census (bucket-local on
    * the state side), merge matched windows' covered TOKEN positions,
    * anti-join cut — then one per-doc summary row `(doc_id, n_kept,
    * n_removed, clean_md5)` for EVERY arrival (md5 over the kept token
    * stream, the sa6 fingerprint convention at token-string
    * granularity). Read-only state; replay is trivially idempotent.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      stateDir: String,
      outDir: String,
      minTok: Int): Unit = {
    val ss = batch.sparkSession
    ensureStateTable(ss, stateTable)
    val gen = StateTables.latestRebuild(ss, s"$stateDir/merges")
    require(gen >= 0L,
      "SaTokenDedupStream: no frozen generation — run rebuildCompact first")
    val docs = graft.operators.Checkpoints.eager(
      batch.select(col("doc_id"), col("text")))._1
    val merges = loadMerges(ss, s"$stateDir/merges/rebuild=$gen")
    val state = StateTables.latest(ss.table(stateTable)).select(col("h"))
    val trows = graft.operators.Checkpoints.eager(
      tokenRows(ss, docs, merges))._1
    // arrival token positions are contiguous from the encode, so the
    // window-sequence coordinate IS the pos coordinate
    val matched = windowStarts(trows, "doc_id", minTok)
      .join(state, Seq("h"), "left_semi")
    val covered = matched
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (minTok - 1))).as("pos"))
      .distinct()
    val kept = trows.join(covered, Seq("doc_id", "pos"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")),
        Sep)).as("clean_md5"))
    val totals = trows.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left_outer")
      .join(cleaned, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_tok"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Accumulated admission output over all batches. */
  def results(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_kept"), col("n_removed"), col("clean_md5"))

  private def ensureStateTable(spark: SparkSession, name: String): Unit =
    StateTables.ensure(spark, name, "h STRING, batch BIGINT",
      "CLUSTERED BY (h) SORTED BY (h) INTO 16 BUCKETS")
}
