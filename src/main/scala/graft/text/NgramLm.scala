package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity filtering — the CCNet-style pass
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data") every web-scale curation stack runs
  * after the heuristic filters: train a small LM on a trusted reference
  * corpus (there: Wikipedia; here: the `src0` slice), score every
  * document by per-token log-likelihood, and split the corpus into
  * head / middle / tail perplexity terciles, dropping the tail.
  *
  * The LM is a word-trigram model with stupid backoff (Brants et al.
  * 2007): p(w|u,v) = c(uvw)/c(uv) when the trigram was seen, else
  * 0.4·c(vw)/c(v) when the bigram was seen, else 0.16·c(w)/N (closed
  * vocab; an 0.16/(N+V) floor covers true OOV for open vocabs).
  * Scores are exact integers end-to-end: each token's log-prob is
  * rounded to MICRO-NATS (·10⁶) before the per-document sum, so the
  * aggregate is order-independent and the oracle replays it
  * bit-for-bit (the only doubles are ln() of small-count rationals,
  * identical IEEE expressions on both engines).
  *
  * Scale shape: the LM tables are bounded by (observed) vocab³, not
  * corpus size — they train on the reference slice only (one
  * map-side-combined groupBy each) and BROADCAST to the scoring side,
  * exactly how CCNet ships its pruned KenLM to every worker. Scoring
  * is a doc-local context explode (a higher-order transform over the
  * token array — no per-doc window shuffle) + broadcast hash joins +
  * one map-side-combinable re-aggregation on doc_id. The final global
  * cuts (terciles here, the budget prefix in [[importanceSelection]])
  * ride `operators/GlobalRank`'s two-pass range-partition shape — one
  * range shuffle of the doc-granular score relation, |partitions|-row
  * offsets broadcast, per-partition finish in parallel. No
  * single-partition window anywhere (PlanAuditSpec pins this).
  */
object NgramLm {

  /** Trained trigram LM: count tables plus corpus scalars. The three
    * DataFrames are vocab-bounded (broadcast-sized by construction).
    */
  final case class Lm(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                      nTokens: Long, vocab: Long)

  /** Doc-local (pos, tok, p1, p2) context rows — one transform over
    * the token array then a single explode; positions 1-based, p1/p2
    * null at the document start. No window, no shuffle.
    */
  def contexts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    contextsEx(docs, idCol, textCol, Nil)

  /** [[contexts]] plus pass-through doc-level columns (`name ->
    * expression over `docs`), carried beside every context row — lets
    * [[trainDual]] tag each gram with its document's slice membership
    * without a second scan or a join back.
    */
  private def contextsEx(docs: DataFrame, idCol: String, textCol: String,
                         extra: Seq[(String, Column)]): DataFrame = {
    // Materialize the split ONCE per row before the per-position
    // transform — inlined, the regex split would re-evaluate for every
    // element_at reference (4 × tokens per doc).
    val toks = col("__toks")
    // The token explode and, downstream, the 5-10 broadcast-join
    // scoring chain run scan-side (narrow) — spread a single-split scan
    // first so they use every core (Scans.spreadSmall: no-op at real
    // scale; optimization r17, guide §2.5). The split happens BELOW the
    // exchange on purpose: the exchange is the only barrier stopping
    // CollapseProject from inlining the regex split into every
    // element_at reference (4 × tokens per doc — measured 35 s cold on
    // t29 when an r18 attempt moved the split above it; the shuffled
    // token arrays are the cheaper trade).
    graft.operators.Scans.spreadSmall(
      docs.select(Seq(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks")) ++
        extra.map { case (n, c) => c.as(n) }: _*),
      col("doc_id"))
      .select(Seq(col("doc_id"),
        explode(transform(sequence(lit(1), size(toks)), i =>
          struct(
            i.as("pos"),
            element_at(toks, i).as("tok"),
            when(i > 1, element_at(toks, i - 1)).as("p1"),
            when(i > 2, element_at(toks, i - 2)).as("p2")))).as("c")) ++
        extra.map { case (n, _) => col(n) }: _*)
      .select(Seq(col("doc_id"), col("c.pos"), col("c.tok"), col("c.p1"), col("c.p2")) ++
        extra.map { case (n, _) => col(n) }: _*)
  }

  /** Train the trigram LM from a reference corpus in ONE scan and ONE
    * shuffle: every context row emits its tagged uni/bi/tri gram
    * (kind, t1, t2, t3), a single map-side-combined groupBy counts
    * them all, and the combined table — vocab-bounded, the thing a
    * real run would write to the lake — is eagerly `localCheckpoint`ed
    * so the three per-order views and every scoring-side broadcast
    * read it directly instead of re-executing the corpus scan per
    * consumer (5 broadcasts in [[scoreDocs]], 10 in a DSIR pass).
    */
  def train(ref: DataFrame, idCol: String, textCol: String): Lm = {
    val nullTok = lit(null).cast("string")
    val counts = contexts(ref, idCol, textCol)
      .select(explode(array(
        struct(lit(1).as("kind"), col("tok").as("t1"), nullTok.as("t2"), nullTok.as("t3")),
        struct(lit(2).as("kind"), col("p1").as("t1"), col("tok").as("t2"), nullTok.as("t3")),
        struct(lit(3).as("kind"), col("p2").as("t1"), col("p1").as("t2"), col("tok").as("t3"))))
        .as("g"))
      // A bi at the doc start / tri in the first two positions has a
      // null leading token: not a gram.
      .where(col("g.t1").isNotNull)
      .groupBy(col("g.kind").as("kind"), col("g.t1").as("t1"),
        col("g.t2").as("t2"), col("g.t3").as("t3"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = counts.where(col("kind") === 1).select(col("t1").as("tok"), col("c"))
    val bi = counts.where(col("kind") === 2).select(col("t1"), col("t2"), col("c"))
    val tri = counts.where(col("kind") === 3)
      .select(col("t1"), col("t2"), col("t3"), col("c"))
    val Array(n, v) = uni.agg(sum(col("c")), count(lit(1))).head()
      .toSeq.map(x => x.asInstanceOf[Long]).toArray
    Lm(uni, bi, tri, n, v)
  }

  /** Train TWO LMs — the `isTarget` slice and the whole pool — in ONE
    * corpus scan and ONE shuffle (optimization r18; guide §1.2): every
    * gram row carries its document's target flag, the combined groupBy
    * counts `c_all` and `c_tgt` side by side, and both LMs' views read
    * the same checkpointed table. Counts are bit-identical to
    * `(train(docs.where(isTarget)), train(docs))` — a doc outside the
    * slice contributes no target grams, and a gram absent from the
    * slice has `c_tgt = 0` and is filtered from the target views —
    * pinned by `NgramLmSpec`. At 100 TB this is the difference between
    * 3 and 2 full-corpus reads for a DSIR pass (train + score being
    * the floor: scoring needs the finished count tables).
    */
  def trainDual(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column): (Lm, Lm) = {
    val nullTok = lit(null).cast("string")
    val counts = contextsEx(docs, idCol, textCol,
      Seq("__tgt" -> isTarget.cast("boolean")))
      .select(col("__tgt"), explode(array(
        struct(lit(1).as("kind"), col("tok").as("t1"), nullTok.as("t2"), nullTok.as("t3")),
        struct(lit(2).as("kind"), col("p1").as("t1"), col("tok").as("t2"), nullTok.as("t3")),
        struct(lit(3).as("kind"), col("p2").as("t1"), col("p1").as("t2"), col("tok").as("t3"))))
        .as("g"))
      .where(col("g.t1").isNotNull)
      .groupBy(col("g.kind").as("kind"), col("g.t1").as("t1"),
        col("g.t2").as("t2"), col("g.t3").as("t3"))
      // count(when(flag, 1)) counts exactly the slice's gram instances:
      // a false OR NULL flag (null `source`) yields null, not counted —
      // the same rows `docs.where(isTarget)` keeps.
      .agg(count(lit(1)).as("c_all"), count(when(col("__tgt"), lit(1))).as("c_tgt"))
      .localCheckpoint(true)
    def views(cCol: String, onlyTgt: Boolean): (DataFrame, DataFrame, DataFrame) = {
      val base = if (onlyTgt) counts.where(col(cCol) > 0) else counts
      (base.where(col("kind") === 1).select(col("t1").as("tok"), col(cCol).as("c")),
        base.where(col("kind") === 2).select(col("t1"), col("t2"), col(cCol).as("c")),
        base.where(col("kind") === 3)
          .select(col("t1"), col("t2"), col("t3"), col(cCol).as("c")))
    }
    val (uniT, biT, triT) = views("c_tgt", onlyTgt = true)
    val (uniR, biR, triR) = views("c_all", onlyTgt = false)
    // Both LMs' corpus scalars ride ONE collect over the uni slice.
    // Null-safe extraction: an empty corpus yields sum = null, and
    // `train`'s `asInstanceOf[Long]` unboxing mapped that to 0 — keep
    // the same degenerate-case behavior instead of an NPE.
    val r = counts.where(col("kind") === 1)
      .agg(sum(col("c_all")), count(lit(1)),
        sum(col("c_tgt")), count(when(col("c_tgt") > 0, lit(1)))).head()
    def lv(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (Lm(uniT, biT, triT, lv(2), lv(3)), Lm(uniR, biR, triR, lv(0), lv(1)))
  }

  /** Join one LM's broadcast count tables onto a context relation and
    * add `micronats<sfx>` / `path<sfx>` columns (suffix keeps two LMs
    * composable in ONE scoring scan — see [[scoreDocsDual]]).
    */
  private def withScore(ctxDf: DataFrame, lm: Lm, sfx: String): DataFrame = {
    val scored = ctxDf
      .join(broadcast(lm.tri.select(col("t1"), col("t2"), col("t3"), col("c").as(s"tri_c$sfx"))),
        col("p2") === col("t1") && col("p1") === col("t2") && col("tok") === col("t3"), "left")
      .drop("t1", "t2", "t3")
      .join(broadcast(lm.bi.select(col("t1"), col("t2"), col("c").as(s"bictx_c$sfx"))),
        col("p2") === col("t1") && col("p1") === col("t2"), "left")
      .drop("t1", "t2")
      .join(broadcast(lm.bi.select(col("t1"), col("t2"), col("c").as(s"bi_c$sfx"))),
        col("p1") === col("t1") && col("tok") === col("t2"), "left")
      .drop("t1", "t2")
      .join(broadcast(lm.uni.select(col("tok").as(s"u1_tok$sfx"), col("c").as(s"u1_c$sfx"))),
        col("p1") === col(s"u1_tok$sfx"), "left")
      .join(broadcast(lm.uni.select(col("tok").as(s"uw_tok$sfx"), col("c").as(s"uw_c$sfx"))),
        col("tok") === col(s"uw_tok$sfx"), "left")
    val micro = lit(1000000d)
    val triHit = col("p2").isNotNull && col(s"tri_c$sfx").isNotNull
    val biHit = col("p1").isNotNull && col(s"bi_c$sfx").isNotNull
    val micronats =
      when(triHit, round(log(col(s"tri_c$sfx").cast("double") / col(s"bictx_c$sfx")) * micro).cast("long"))
        .when(biHit, round(log(lit(0.4) * col(s"bi_c$sfx") / col(s"u1_c$sfx")) * micro).cast("long"))
        .when(col(s"uw_c$sfx").isNotNull,
          round(log(lit(0.16) * col(s"uw_c$sfx") / lit(lm.nTokens)) * micro).cast("long"))
        .otherwise(lit(math.round(math.log(0.16 / (lm.nTokens + lm.vocab)) * 1000000d)))
    val path = when(triHit, "tri").when(biHit, "bi").otherwise("uni")
    scored
      .withColumn(s"micronats$sfx", micronats)
      .withColumn(s"path$sfx", path)
      .drop(s"tri_c$sfx", s"bictx_c$sfx", s"bi_c$sfx",
        s"u1_tok$sfx", s"u1_c$sfx", s"uw_tok$sfx", s"uw_c$sfx")
  }

  /** Per-document integer score (negated summed micro-nats — larger =
    * higher perplexity) plus per-backoff-path token counts.
    */
  def scoreDocs(docs: DataFrame, lm: Lm, idCol: String, textCol: String): DataFrame =
    withScore(contexts(docs, idCol, textCol), lm, "")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        (-sum(col("micronats"))).as("score_micro"),
        sum(when(col("path") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("path") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("path") === "uni", 1L).otherwise(0L)).as("n_uni"))

  /** Score every document under TWO LMs in one corpus scan — ten
    * broadcast joins in a single plan, one doc_id re-aggregation. At
    * 100 TB a second scoring pass is a second full-corpus read, so
    * the DSIR path must (and does) fuse them.
    */
  def scoreDocsDual(docs: DataFrame, lmT: Lm, lmR: Lm,
                    idCol: String, textCol: String): DataFrame =
    withScore(withScore(contexts(docs, idCol, textCol), lmT, "_t"), lmR, "_r")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        (-sum(col("micronats_t"))).as("score_tgt_micro"),
        (-sum(col("micronats_r"))).as("score_raw_micro"))

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document under TWO LMs — one trained on the trusted target
    * slice, one on the raw pool — and rank by the per-doc
    * log-likelihood ratio log p_target(x) − log p_raw(x) (exact
    * integer micro-nats: the difference of the two summed scores).
    * Selection is prefix-truncation under a token budget in ratio
    * order (t24's running-sum semantics), so the output is the most
    * target-like `budgetToks` tokens of the pool.
    *
    * Scale shape: both LM tables are vocab-bounded broadcasts; the
    * two scoring passes are independent scans (broadcast joins + one
    * doc_id re-agg each) joined doc_id-to-doc_id at doc granularity.
    * The ranked budget cut is `GlobalRank.withGlobalPrefixSum` — one
    * range shuffle of the doc-granular scores, broadcast prefix
    * offsets, parallel per-partition running sums (same two-pass
    * shape as [[perplexityBuckets]]'s terciles).
    */
  def importanceSelection(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, targetSource: String,
                          budgetToks: Long): DataFrame = {
    val (lmT, lmR) = trainDual(docs, idCol, textCol, col(sourceCol) === targetSource)
    val weighted = scoreDocsDual(docs, lmT, lmR, idCol, textCol)
      .withColumn("logratio_micro", col("score_raw_micro") - col("score_tgt_micro"))
    // The ranked budget cut rides the TWO-PASS prefix sum (range
    // partition + broadcast offsets, `operators/GlobalRank`) — no
    // single-partition window; `NgramLmSpec` pins it ≡ the window form.
    graft.operators.GlobalRank
      .withGlobalPrefixSum(weighted, "cum_toks", col("n_toks"),
        col("logratio_micro").desc, col("doc_id"))
      .withColumn("kept", when(col("cum_toks") <= budgetToks, 1L).otherwise(0L))
  }

  /** The full CCNet split: score every document under the LM trained
    * on `refSource` docs, then head/middle/tail perplexity terciles
    * (bucket 1 = lowest perplexity); `kept` drops the tail.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, refSource: String): DataFrame = {
    val lm = train(docs.where(col(sourceCol) === refSource), idCol, textCol)
    val perDoc = scoreDocs(docs, lm, idCol, textCol)
    // Global terciles via the TWO-PASS rank (range partition +
    // broadcast prefix offsets, `operators/GlobalRank.withGlobalNtile`
    // — exactly NTILE(3) semantics, no single-partition window;
    // `NgramLmSpec` pins it ≡ the window form).
    graft.operators.GlobalRank
      .withGlobalNtile(perDoc, "ppl_bucket", 3,
        col("score_micro").cast("double") / col("n_toks"), col("doc_id"))
      .select(
        col("doc_id"), col("n_toks"), col("n_tri"), col("n_bi"), col("n_uni"),
        col("score_micro"), col("ppl_bucket"))
      .withColumn("kept", when(col("ppl_bucket") <= 2, 1L).otherwise(0L))
  }

  /** The APPROX-CUTOFF alternative to [[importanceSelection]] — the
    * budget-prefix analog of [[perplexityBucketsApprox]], completing
    * the "global ranked cut at scale" recipe's second column: estimate
    * the log-ratio threshold whose token-WEIGHTED prefix ≈ the budget
    * from a bounded histogram, then admit by broadcast threshold — the
    * corpus is never range-shuffled.
    *
    *   - [[importanceSelection]] (two-pass `GlobalRank` prefix sum):
    *     EXACT budget semantics — the kept set is the maximal ratio-
    *     ordered prefix within `budgetToks` — at the cost of one range
    *     shuffle of the doc-granular score relation. Use for gates,
    *     fixed quotas, or when the running total itself is consumed.
    *   - this variant: per-doc scores bucket into `nBuckets` equal-width
    *     log-ratio bins (one map-side-combinable groupBy; the histogram
    *     — ≤ `nBuckets` rows — collects like a codebook), the driver
    *     scans it top-down for the budget-crossing bin, and admission is
    *     `logratio_micro ≥ lower edge of the crossing bin` — a codegen'd
    *     comparison on the existing partitioning. The kept token count
    *     overshoots the budget by AT MOST the crossing bin's token mass
    *     (ε; returned in the `budget_over_toks` column, so callers can
    *     see the realized error) and ties land whole on one side. Use
    *     when the budget is a target, not a contract — DSIR's actual
    *     production posture.
    */
  def importanceSelectionApprox(docs: DataFrame, idCol: String, textCol: String,
                                sourceCol: String, targetSource: String,
                                budgetToks: Long, nBuckets: Int = 10000): DataFrame = {
    val (lmT, lmR) = trainDual(docs, idCol, textCol, col(sourceCol) === targetSource)
    // Checkpoints.eager, the house discipline (one shim, one owner per
    // checkpoint): the token outlives this call — the returned lazy
    // frame re-reads `weighted` on every execution — so it is not
    // freed here; ContextCleaner reclaims it like any one-shot memo.
    val weighted = graft.operators.Checkpoints.eager(
      scoreDocsDual(docs, lmT, lmR, idCol, textCol)
        .withColumn("logratio_micro",
          col("score_raw_micro") - col("score_tgt_micro")))._1
    val Array(lo, hi) = weighted
      .agg(min(col("logratio_micro")), max(col("logratio_micro"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val width = math.max(1L, (hi - lo) / nBuckets + 1L)
    // ≤ nBuckets+1 rows to the driver — the codebook-collect class.
    // Integer `div`, never double `/` + cast: logratio spreads near
    // 2^53 would round a boundary value into the wrong bin, and the
    // repo's budget arithmetic is integer-exact throughout.
    val histo = weighted
      .groupBy(expr(s"(logratio_micro - ($lo)) div $width").as("__bin"))
      .agg(sum(col("n_toks")).as("__t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(-_._1)
    var cum = 0L
    var crossBin = -1L
    var over = 0L
    for ((bin, t) <- histo if crossBin < 0) {
      cum += t
      if (cum >= budgetToks) { crossBin = bin; over = cum - budgetToks }
      else if (bin == histo.last._1) { crossBin = bin; over = 0L }
    }
    val threshold = lo + crossBin * width
    weighted
      .withColumn("kept", when(col("logratio_micro") >= threshold, 1L).otherwise(0L))
      .withColumn("ratio_threshold_micro", lit(threshold))
      .withColumn("budget_over_toks", lit(over))
  }

  /** The APPROX-CUTOFF alternative to [[perplexityBuckets]] — the other
    * leg of the "global ranked cut at scale" recipe (PLANS.md round-13
    * section has the measured A/B):
    *
    *   - [[perplexityBuckets]] (two-pass `GlobalRank`): EXACT NTILE
    *     semantics — deterministic bucket sizes, oracle-able bit-for-bit
    *     — at the cost of one range shuffle of the doc-score relation.
    *     Use when bucket populations must be exact (a gate, a fixed
    *     keep-quota) or downstream consumes the rank itself.
    *   - this variant: tercile CUTOFF VALUES from one
    *     `approx_percentile` scalar aggregate (a broadcast-sized
    *     result), then a codegen'd when-chain on the existing
    *     partitioning — ZERO additional shuffle, but bucket sizes drift
    *     by the sketch error and ties land whole in one bucket. Use
    *     when the cut is a quality threshold (CCNet's actual use) and
    *     ±ε boundary drift is acceptable.
    *
    * Both legs keep the corpus un-reshuffled; neither sorts through a
    * single partition.
    */
  def perplexityBucketsApprox(docs: DataFrame, idCol: String, textCol: String,
                              sourceCol: String, refSource: String,
                              accuracy: Int = 10000): DataFrame = {
    val lm = train(docs.where(col(sourceCol) === refSource), idCol, textCol)
    // house checkpoint discipline; token outlives the returned frame
    val perDoc = graft.operators.Checkpoints.eager(
      scoreDocs(docs, lm, idCol, textCol)
        .withColumn("__ppl", col("score_micro").cast("double") / col("n_toks")))._1
    val cuts = perDoc
      .agg(expr(s"approx_percentile(__ppl, array(1.0D/3, 2.0D/3), $accuracy)"))
      .head().getSeq[Double](0)
    perDoc
      .select(
        col("doc_id"), col("n_toks"), col("n_tri"), col("n_bi"), col("n_uni"),
        col("score_micro"),
        when(col("__ppl") <= cuts(0), 1L)
          .when(col("__ppl") <= cuts(1), 2L)
          .otherwise(3L).as("ppl_bucket"))
      .withColumn("kept", when(col("ppl_bucket") <= 2, 1L).otherwise(0L))
  }
}
