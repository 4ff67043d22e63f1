package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Checkpoints, DriverBound, GlobalRank}

/** DISTRIBUTED SUFFIX ARRAY by prefix doubling — the data structure
  * behind exact-substring deduplication (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better", builds one over the
  * whole training corpus; t15/t17's k-gram spans approximate what the
  * SA computes exactly). The corpus is modeled as the single string
  * `doc₀ ⊕ SEP ⊕ doc₁ ⊕ SEP ⊕ … ⊕ SEP` (docs in `doc_id` order,
  * SEP = U+0001, below every text codepoint, one TRAILING separator so
  * each document is fenced) without ever materializing it: each
  * codepoint is a row `(gid, code)` where `gid` is its 1-based global
  * position, and document offsets come from one two-pass prefix sum
  * over the |docs|-granular length relation. The same machinery runs
  * over ANY integer-code sequence — [[buildIndexFromRows]] is the
  * token-space entry BPE-id dedup composes with.
  *
  * Prefix doubling (Manber–Myers): `rank₀` orders positions by their
  * first code; each round joins every position's rank with the rank
  * `step` positions ahead (missing → −1, the shorter-suffix-first
  * convention that equals lexicographic order) and re-ranks by the
  * pair. After the round for step `s`, equal ranks ⇔ equal first `2s`
  * codes; the loop stops when every rank is distinct, which for
  * natural text happens at `2s` ≈ the longest repeated substring, NOT
  * at corpus length.
  *
  * Ranks are COMPETITION ranks (`rank = 1 + #{strictly smaller}`), not
  * dense ranks, for one load-bearing reason: under refinement a
  * position whose rank is already unique NEVER changes rank again
  * (groups only split; the strictly-smaller count of a settled
  * position is decided at every longer prefix by its already-unique
  * shorter prefix). That makes settled positions FREEZABLE: each round
  * re-ranks only the still-tied (live) positions — on natural text the
  * overwhelming majority settles within 2–3 rounds, so the tail
  * rounds' self-join/rank/join-back volume collapses from n to the
  * residue of long repeats. The refinement stays exact: for a live
  * position with current rank r (= its group's first index) and
  * within-group competition offset d over the (r1, r2) pair order,
  * the new global rank is exactly r + d — computed from the live rows
  * alone (one two-pass prefix sum over the distinct pair counts plus a
  * per-group min), never touching frozen rows.
  *
  * Two [[graft.operators.DriverBound]] switches shorten the loop while
  * their tables fit the driver budget: `SuffixArray.bigram` ranks the
  * distinct bigrams on the driver and starts the doubling at m = 2, and
  * `SuffixArray.rank` ranks a round's distinct pairs on the driver
  * instead of the two-pass. Both charge [[rankedRowBytes]] a row.
  *
  * Spark shape — this operator is WHY `operators/GlobalRank` exists:
  * every round is (a) one id-keyed lookup join (`gid + step`) of the
  * live rows against the full rank relation, (b) one map-side-
  * combinable count of the live pair relation, (c) one two-pass prefix
  * sum of the DISTINCT live pairs (range shuffle of ≤ |live| tiny
  * rows, broadcast offsets — never a single-partition sort), (d) one
  * join-back. Each round's outputs are eagerly checkpointed through
  * [[graft.operators.Checkpoints]] and the superseded round's blocks
  * are FREED (RDD-level — `Dataset.unpersist` after a localCheckpoint
  * is a no-op). O(log(longest-repeat)) rounds of ≤-linear shuffles:
  * the shape that survives 1000 executors, vs. the sequential
  * DC3/SA-IS builds that assume one machine.
  *
  * The build can RETAIN the per-round rank tables ([[Index.levels]]):
  * level `m`'s table answers "do positions p, q share their first `m`
  * codes?" by rank equality, which is exactly the primitive the
  * distributed LCP descent ([[lcpAdjacent]]) needs — LCP of SA-adjacent
  * suffixes by binary descent over the levels, then variable-length
  * duplicated spans ≥ L and their removal ([[removeDuplicatedSpans]]):
  * Lee et al.'s actual output, superseding the fixed-k approximation
  * (t15/t17). At 100 TB the retained levels are lake writes the job
  * pays once per round anyway; in local mode they are the per-round
  * checkpoints kept alive for the descent.
  *
  * DRIVER PATH of [[removeDuplicatedSpans]]: a corpus whose driver
  * footprint ([[driverFootprint]]: 20 bytes per position for five
  * primitive `int` arrays, plus 5 bytes per UTF-8 text byte for the
  * collected and cleaned strings) fits the DriverBound budget (one eighth
  * of `spark.driver.maxResultSize`, capped by the driver heap) is collected
  * once and deduped in memory — counting-sort prefix doubling, Kasai's
  * LCP, a sweep of both copies' covered intervals — instead of paying
  * several Spark jobs per doubling round and descent level. Same rows,
  * same schema, same codepoint semantics as the distributed build,
  * which stays the path above the bound.
  */
object SuffixArray {

  /** Separator codepoint — strictly below any text codepoint. */
  val Sep = 1

  /** A finished build: `addr` is the global addressing (text AND
    * separator rows), `full` the final ranks (the suffix array over
    * ALL positions), `levels` the ascending retained rank tables
    * (`(m, (gid, rank))`; equal rank ⇔ equal first m codes) — empty
    * unless the build retained them for LCP work.
    */
  final case class Index(
      addr: DataFrame,
      full: DataFrame,
      levels: Seq[(Long, DataFrame)],
      total: Long,
      idCol: String,
      sepCode: Long,
      levelStore: Option[String] = None)

  private def parts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** SCALE-DERIVED build parallelism (the ×100 lesson): the doubling
    * joins hold O(positions / partitions) rows per task, so a corpus
    * that outgrows the session's shuffle width must widen the build's
    * shuffles rather than demand a bigger heap — the round-16 ×100 run
    * OOM'd the default 24 g heap at 32 partitions (~5 M positions per
    * task) and was "fixed" with a 96 g knob; the cluster-faithful fix
    * is ~1 M positions per partition, derived from the measured
    * position count. Identity below 32 M positions (gate scales keep
    * their exact plans); capped at 2048 (beyond that, per-partition
    * constant overheads dominate on any plausible executor count).
    */
  private[text] def derivedBuildParts(sessionParts: Int, total: Long): Int =
    math.max(sessionParts, math.min(2048L, total / 1000000L).toInt)

  /** Driver bytes per collected `(r1, r2, c)` row of a ranked round or
    * bigram table: the row, its sorted and ranked tuples (72 B + 88 B)
    * and the broadcast row (48 B).
    */
  private[text] def rankedRowBytes(schema: StructType): Long =
    DriverBound.rowBytes(schema) + 208L

  /** `(doc_id, pos, code)` — 1-based CODEPOINT positions (never UTF-16
    * units: surrogate pairs are one position, matching DuckDB / SQL
    * `length`/`substr` semantics).
    */
  private def charRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The codepoint explode multiplies rows by text length — spread a
    // single-split scan first (no-op at real scale).
    graft.operators.Scans.spreadSmall(
      docs.select(col(idCol).cast("long"), col(textCol)), col(idCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) "" else text
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        var i = 0
        var pos = 1L
        while (i < t.length) {
          val cp = t.codePointAt(i)
          out += ((id, pos, cp.toLong))
          i += Character.charCount(cp)
          pos += 1
        }
        out
      }
      .toDF(idCol, "pos", "code")
  }

  /** Global addressing: `(doc_id, pos, gid, code)` for every sequence
    * element plus one SEP row per document at `pos = n + 1` (empty
    * documents still contribute their SEP). Offsets ride
    * [[graft.operators.GlobalRank.withGlobalPrefixSumStaged]] over the
    * |docs|-granular length relation.
    */
  private def addressedRows(ids: DataFrame, rows: DataFrame, idCol: String,
                            sepCode: Long): DataFrame = {
    val lens = ids.select(col(idCol).cast("long"))
      .join(rows.groupBy(col(idCol)).agg(max(col("pos")).as("n")), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("n"))
    // Staged = the pure two-pass, NOT the r18 driver finish: the
    // local-relation offsets changed broadcast choices deep in the
    // build's join tree (measured +0.4–0.9 s on sa1 — 10+ task-sec
    // broadcast-build jobs appeared); the checkpoint-backed run keeps
    // the build's plan shape. One-shot call: token left to the
    // ContextCleaner, exactly the pre-r18 behavior.
    val offs = GlobalRank
      .withGlobalPrefixSumStaged(lens, "cum", col("n") + 1, parts(lens), None, col(idCol))
      ._1
      .select(col(idCol), (col("cum") - col("n") - 1).as("off"), col("n"))
    val text = rows.join(offs.select(col(idCol), col("off")), Seq(idCol))
      .select(col(idCol), col("pos"), (col("off") + col("pos")).as("gid"),
        col("code").cast("long").as("code"))
    val seps = offs.select(col(idCol), (col("n") + 1).as("pos"),
      (col("off") + col("n") + 1).as("gid"), lit(sepCode).as("code"))
    text.unionByName(seps)
  }

  private def addressed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    addressedRows(docs.select(col(idCol)), charRows(docs, idCol, textCol),
      idCol, Sep.toLong)

  /** Range partitions sized to the live relation: the per-round
    * relations shrink as positions settle, so tail rounds should not
    * pay wide-shuffle overhead (AQE coalesces the framework shuffles;
    * this right-sizes the explicit two-pass range partitioning).
    */
  private def rankParts(df: DataFrame, n: Long): Int =
    math.max(1, math.min(parts(df), (n / 50000L).toInt + 1))

  /** Initial competition ranks by single code: the alphabet is bounded
    * (Unicode codepoints / a BPE vocabulary), so the per-code counts
    * collect to the driver and come back as one broadcast map —
    * `rank₀(code) = 1 + #positions with a smaller code`, `live` iff
    * the code occurs more than once.
    */
  private def initialRanks(addr: DataFrame): (DataFrame, Long) = {
    val spark = addr.sparkSession
    import spark.implicits._
    val counts = addr.groupBy(col("code")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 1L
    val table = counts.map { case (code, c) =>
      val r = acc; acc += c; (code, r, c)
    }
    val rankDf = broadcast(table.toSeq.toDF("code", "rank", "gsz"))
    (addr.join(rankDf, Seq("code"))
      .select(col("gid"), col("rank"), (col("gsz") > 1).as("live"), col("gsz")),
      // initial live count comes free from the driver-side alphabet table
      counts.filter(_._2 > 1).map(_._2).sum)
  }

  /** Competition ranks at m = 2 from driver-ranked DISTINCT BIGRAMS
    * (optimization r18): ordering positions by (code, next code,
    * missing → −1) is EXACTLY round 1's pair order, so rank, group size
    * and liveness equal round 1 run from the single-code init, for one
    * shift join, one bigram count collected to the driver and one
    * broadcast join back. Returns (init at m = 2, next live count,
    * level-1 rank table from the same bigram rows, the shift-join
    * checkpoint token the CALLER frees once its own checkpoint lands);
    * None when the bigrams do not fit `sw` (the single-code init runs).
    */
  private def initialRanks2(addr: DataFrame, scaleUp: Boolean, bp: Int, sw: DriverBound.Switch)
      : Option[(DataFrame, Long, DataFrame, Checkpoints.Token)] = {
    val spark = addr.sparkSession
    import spark.implicits._
    def wide(df: DataFrame): DataFrame =
      if (scaleUp) df.repartition(bp, col("gid")) else df
    val withNext = wide(addr.select(col("gid"), col("code")))
      .join(
        wide(addr.select((col("gid") - 1L).as("gid"), col("code").as("code2"))),
        Seq("gid"), "left_outer")
      .select(col("gid"), col("code"),
        coalesce(col("code2"), lit(-1L)).as("code2"))
    // Checkpoint: consumed by the bigram count AND the rank join-back —
    // an unsevered lineage would run the shift join twice.
    val (pairs, tokP) = Checkpoints.eager(withNext, diskOnly = scaleUp)
    val bigrams = pairs.groupBy(col("code"), col("code2")).agg(count(lit(1)).as("c"))
    val counts = sw.collect(bigrams, rankedRowBytes(bigrams.schema)) match {
      case Some(rows) => rows
      case None => tokP.free(); return None
    }
    val rows = counts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = 1L
    val table = rows.map { case (c1, c2, c) =>
      val r = acc; acc += c; (c1, c2, r, c)
    }
    val nActive = table.filter(_._4 > 1L).map(_._4).sum
    val rankDf = broadcast(table.toSeq.toDF("code", "code2", "rank", "gsz"))
    val init = pairs.join(rankDf, Seq("code", "code2"))
      .select(col("gid"), col("rank"), (col("gsz") > 1).as("live"), col("gsz"))
    // Single-code (level-1) ranks fall out of the SAME collected rows:
    // per-code counts are the bigram counts summed over the successor.
    var acc1 = 1L
    val t1 = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      .map { case (code, c) => val r = acc1; acc1 += c; (code, r) }
    val lvl1 = addr.join(broadcast(t1.toDF("code", "rank")), Seq("code"))
      .select(col("gid"), col("rank"))
    Some((init, nActive, lvl1, tokP))
  }

  /** The doubling loop. Returns the final full rank relation (all
    * positions, `(gid, rank, live, gsz)`), the retained levels, and
    * the round count. Stops when every rank is unique, `m` reaches
    * `maxM`, or `maxRounds` (a runaway backstop — 2^40 exceeds any
    * corpus).
    */
  private def doubling(addr: DataFrame, total: Long, maxM: Long,
                       maxRounds: Int, retainLevels: Boolean,
                       levelStore: Option[String] = None)
      : (DataFrame, Seq[(Long, DataFrame)]) = {
    val spark = addr.sparkSession
    val bp = derivedBuildParts(parts(addr), total)
    // scaleUp: explicit join-key repartitions at the derived width —
    // a no-op (and not planned) at gate scales, where bp == session
    // width and the plans must stay byte-identical.
    val scaleUp = bp > parts(addr)
    // START AT m = 2 when the bigram table is driver-bounded (and the
    // caller's window allows it): skips round 1 — the only round that
    // runs over EVERY position (optimization r18; see initialRanks2).
    // maxM == 1 callers need the single-code ranks as their RESULT, so
    // they keep the m = 1 init.
    // ONE checkpointed full frame per round — the lookup side and every
    // retained level stay single compact scans (a union-of-parts view
    // re-read K frames per join and measurably drowned the freezing
    // win); the freezing savings live in the PAIR/rank relations, which
    // carry only the live residue.
    val (full0, tokF0, nActive0, lvl1Opt) = DriverBound("SuffixArray.bigram", spark) { sw =>
      val (init, a0, lvl1, tokInit) =
        (if (maxM >= 2L && maxRounds >= 1) initialRanks2(addr, scaleUp, bp, sw) else None)
          .map { case (i, a, l, t) => (i, a, Option(l), t) }
          .getOrElse { val (i, a) = initialRanks(addr); (i, a, None, Checkpoints.none(addr)) }
      val (f, t) = Checkpoints.eager(init, diskOnly = scaleUp)
      tokInit.free()
      (f, t, a0, lvl1)
    }
    var full = full0
    var tokF = tokF0
    var nActive = nActive0
    val levels = scala.collection.mutable.ArrayBuffer[(Long, DataFrame)]()
    // Retained levels are SEPARATE DISK_ONLY snapshots of (gid, rank):
    // the hot loop keeps its frames in memory and frees each when
    // superseded, while the O(log) corpus-sized level tables — alive
    // until the LCP descent is done — never touch the storage pool
    // (sharing the hot frames evict-thrashed it: measured 4× the bare
    // build at ×10 corpora; at 100 TB these snapshots are the lake
    // writes a real run pays per round anyway).
    // Two level-retention modes: block-manager DISK_ONLY snapshots
    // (local dev default — zero files, swept with the JVM) or LAKE
    // PARQUET generations under `levelStore` (the at-scale mode: the
    // ×100 with-levels build died on No-space because ~12 uncompressed
    // block-manager snapshots of 156 M (gid, rank) rows exceeded the
    // ~94 GB executor scratch — as columnar parquet the same levels
    // delta-compress to a few GB, live on the data disk a real cluster
    // writes per round anyway, and each level is individually
    // droppable once the LCP descent passes it).
    def snapLevelOf(df: DataFrame, m: Long): Unit =
      if (retainLevels) levelStore match {
        case Some(dir) =>
          df.select(col("gid"), col("rank"))
            .write.mode("overwrite").parquet(s"$dir/level=$m")
          levels += ((m, spark.read.parquet(s"$dir/level=$m")))
        case None =>
          val (lv, _) = Checkpoints.eager(
            df.select(col("gid"), col("rank")), diskOnly = true)
          levels += ((m, lv))
      }
    def snapLevel(m: Long): Unit = snapLevelOf(full, m)
    // Bigram init starts the ladder at m = 2; the level-1 table the LCP
    // descent needs is derived from the same driver-side bigram rows
    // (identical ranks to the single-code init — see initialRanks2).
    var m = 1L
    lvl1Opt match {
      case Some(lvl1) =>
        snapLevelOf(lvl1, 1L)
        m = 2L
        snapLevel(2L)
      case None =>
        snapLevel(1L)
    }
    var rounds = 0
    while (nActive > 0 && m < maxM && rounds < maxRounds) {
      val step = m
      val np = rankParts(addr, nActive)
      // At derived widths, pre-partition both join sides on their join
      // keys so the lookup join and the join-back run at bp partitions
      // (~1 M rows/task) instead of the session width (5 M rows/task
      // OOM'd the ×100 default heap).
      val liveSide =
        if (scaleUp) full.filter(col("live")).repartition(bp, col("gid") + step)
        else full.filter(col("live"))
      val lookSide =
        if (scaleUp) full.select(col("gid"), col("rank")).repartition(bp, col("gid"))
        else full.select(col("gid"), col("rank"))
      // checkpoint: consumed by the pair count AND the join-back, and
      // derived from a join — an unsevered lineage would run it twice
      val (pairs, tokP) = Checkpoints.eager(liveSide.as("a")
        .join(lookSide.as("b"),
          col("b.gid") === col("a.gid") + step, "left_outer")
        .select(col("a.gid").as("gid"), col("a.rank").as("r1"),
          coalesce(col("b.rank"), lit(-1L)).as("r2")), diskOnly = scaleUp)
      val d = pairs.groupBy(col("r1"), col("r2")).agg(count(lit(1)).as("c"))
      // Re-rank the distinct live pairs (optimization r17–r18): a round
      // whose DISTINCT-pair relation |D| fits the `SuffixArray.rank`
      // DriverBound ranks it ON THE DRIVER — one |D|-row collect, exact
      // integer arithmetic, broadcast back — instead of the two-pass's
      // three actions. The probe reads |D| itself, not the live count:
      // text has far fewer distinct pairs than live positions (sa2:
      // >100k live, <20k distinct). It is skipped when the live count
      // says |D| plausibly overflows anyway (> 64× the rows the budget
      // admits), so a 100 TB build's early rounds never pay a doomed
      // probe. Both paths compute identical ranks (SuffixArraySpec).
      val (nextFull, tokF2, tokG) = DriverBound("SuffixArray.rank", spark) { sw =>
        val dProbe = sw.collect(d, rankedRowBytes(d.schema), expects = nActive / 64L)
        val (rankedPairs, act, tokG) =
          if (dProbe.isDefined) {
            val rows = dProbe.get
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
              .sortBy(t => (t._1, t._2))
            var cum = 0L
            var curR1 = Long.MinValue
            var ming = 0L
            var liveNext = 0L
            val out = new Array[(Long, Long, Long, Long)](rows.length)
            var i = 0
            while (i < rows.length) {
              val (r1, r2, c) = rows(i)
              val gpair = cum + 1L
              cum += c
              if (r1 != curR1) { curR1 = r1; ming = gpair }
              if (c > 1L) liveNext += c
              out(i) = (r1, r2, r1 + gpair - ming, c)
              i += 1
            }
            import spark.implicits._
            (broadcast(out.toSeq.toDF("r1", "r2", "nrank", "c")),
              liveNext, Checkpoints.none(d))
          } else {
            // The prefix-sum's pass-1 collect also returns the next
            // round's live population (previously a separate |D|-row
            // action), and the ranked-pair relation is consumed exactly
            // once (the join-back), so it needs no checkpoint of its own.
            val (cum, act0, tok) = GlobalRank.withGlobalPrefixSumStaged(
              d, "cum", col("c"), np,
              Some(sum(when(col("c") > 1L, col("c")).otherwise(lit(0L)))),
              col("r1"), col("r2"))
            // gpair = competition rank of the pair's positions over the
            // live rows; minG = the group's first such rank, so the
            // group-relative offset (gpair - ming) added to the group's
            // frozen base rank r1 is the exact new global rank.
            val g = cum.withColumn("gpair", col("cum") - col("c") + 1L)
            val minG = g.groupBy(col("r1")).agg(min(col("gpair")).as("ming"))
            (g.join(minG, Seq("r1"))
              .select(col("r1"), col("r2"),
                (col("r1") + col("gpair") - col("ming")).as("nrank"), col("c")),
              act0, tok)
          }
        nActive = act
        val pairsSide =
          if (scaleUp) pairs.repartition(bp, col("r1"), col("r2")) else pairs
        val assigned = pairsSide.join(rankedPairs, Seq("r1", "r2"))
          .select(col("gid"), col("nrank").as("rank"),
            (col("c") > 1L).as("live"), col("c").as("gsz"))
        val (nextFull, tokF2) = Checkpoints.eager(
          full.filter(!col("live")).unionByName(assigned), diskOnly = scaleUp)
        (nextFull, tokF2, tokG)
      }
      // Free the round's scratch and the superseded full frame (levels
      // are independent snapshots, so this is safe either way).
      tokP.free(); tokG.free(); tokF.free()
      full = nextFull
      tokF = tokF2
      m *= 2
      rounds += 1
      snapLevel(m)
    }
    (full, levels.toSeq)
  }

  /** Build the index over documents' codepoints. `retainLevels` keeps
    * the per-round rank tables alive for [[lcpAdjacent]] —
    * block-manager snapshots by default, or compressed lake parquet
    * under `levelStore` (the at-scale mode; see [[doubling]]'s
    * retention note).
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 maxRounds: Int = 40, retainLevels: Boolean = false,
                 levelStore: Option[String] = None): Index = {
    // cheap position-count estimate (codepoints + one SEP per doc)
    // BEFORE materializing the addressing, so the addressing itself can
    // be checkpointed at the derived width — the ×100 OOM was the
    // 32-way DESERIALIZED unroll of this very frame, ahead of any join
    val est = docs.agg(positionCount(textCol)).head().getLong(0)
    buildIndexOfSize(docs, idCol, textCol, est, maxRounds, retainLevels, levelStore)
  }

  /** Codepoints plus one SEP per document: the corpus string's length. */
  private def positionCount(textCol: String): Column =
    (coalesce(sum(length(col(textCol)).cast("long")), lit(0L)) + count(lit(1))).as("n")

  /** [[buildIndex]] past its size job, for callers that measured `est`. */
  private def buildIndexOfSize(docs: DataFrame, idCol: String, textCol: String,
                               est: Long, maxRounds: Int, retainLevels: Boolean,
                               levelStore: Option[String]): Index = {
    val (addr0, _, total) =
      checkpointAddr(addressed(docs, idCol, textCol), est)
    val addr = persistAddr(addr0, levelStore)
    val (full, levels) =
      doubling(addr, total, Long.MaxValue, maxRounds, retainLevels, levelStore)
    Index(addr, full, levels, total, idCol, Sep.toLong, levelStore)
  }

  /** When the index is built against a `levelStore`, the ADDRESSING is
    * part of the stored artifact too (`$store/addr`): the levels alone
    * cannot serve the span-removal tail (it needs `(id, pos, gid,
    * code)`), and a chain that dies after the build — the expensive
    * leg — must be resumable from disk ([[loadIndex]]) without
    * re-paying it. The returned frame is the parquet READ-BACK, so
    * every downstream consumer scans the lake file instead of
    * block-manager blocks.
    */
  private def persistAddr(addr: DataFrame, levelStore: Option[String]): DataFrame =
    levelStore match {
      case Some(dir) =>
        addr.write.mode("overwrite").parquet(s"$dir/addr")
        addr.sparkSession.read.parquet(s"$dir/addr")
      case None => addr
    }

  /** Reconstruct a servable [[Index]] from a level store written by a
    * `levelStore` build — the resume path for the LCP/cut tail of a
    * chain whose build leg already completed (at 100 TB the build is
    * the hour-scale leg; its artifact must outlive the JVM). `full` is
    * the deepest level: the build converged there, so its ranks are
    * the final suffix-array ranks (the descent and [[saOf]] read only
    * `(gid, rank)` from it).
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, store: String,
                idCol: String, sepCode: Long): Index = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(store), spark.sparkContext.hadoopConfiguration)
    val lvls = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("level="))
      .map(n => n.stripPrefix("level=").toLong).sorted
    require(lvls.nonEmpty, s"no level=* directories under $store")
    val levels = lvls.map(m => (m, spark.read.parquet(s"$store/level=$m"))).toSeq
    val addr = spark.read.parquet(s"$store/addr")
    Index(addr, levels.last._2, levels, addr.count(), idCol, sepCode, Some(store))
  }

  /** Checkpoint the addressing, at-scale-aware: past the derived-width
    * threshold the frame is pre-partitioned to ~1 M rows/task and
    * stored DISK_ONLY — deserialized unroll of 5 M-row partitions
    * OOM'd the ×100 default heap before the first doubling round, and
    * even SERIALIZED in-memory blocks starved the unified pool's
    * execution side mid-build (UNABLE_TO_ACQUIRE_MEMORY, round 4 of
    * the ×100 run); at scale the inter-round frames belong on disk,
    * exactly where a cluster run's inter-stage lake artifacts live,
    * with the heap left whole for join/window execution.
    */
  private def checkpointAddr(addr0: DataFrame, est: Long): (DataFrame, Checkpoints.Token, Long) = {
    val bp = derivedBuildParts(parts(addr0), est)
    if (bp > parts(addr0))
      Checkpoints.eagerCounted(addr0.repartition(bp, col("gid")), diskOnly = true)
    else Checkpoints.eagerCounted(addr0)
  }

  /** Token-space build: `rows` is `(idCol, pos, code)` — 1-based
    * per-document positions over ANY bounded integer alphabet (BPE
    * ids). `sepCode` must sort strictly below every code.
    */
  def buildIndexFromRows(ids: DataFrame, rows: DataFrame, idCol: String,
                         sepCode: Long, maxRounds: Int = 40,
                         retainLevels: Boolean = false,
                         levelStore: Option[String] = None): Index = {
    val est = rows.count() + ids.count()
    val (addr0, _, total) =
      checkpointAddr(addressedRows(ids, rows, idCol, sepCode), est)
    val addr = persistAddr(addr0, levelStore)
    val (full, levels) =
      doubling(addr, total, Long.MaxValue, maxRounds, retainLevels, levelStore)
    Index(addr, full, levels, total, idCol, sepCode, levelStore)
  }

  /** The suffix array: `(doc_id, pos, gid, sa_rank)` for every TEXT
    * position (SEP positions participate in the build — they fence
    * documents — but are filtered from the output). `sa_rank` is the
    * 1-based lexicographic rank of the suffix of the SEP-joined corpus
    * string starting at `gid`, over ALL positions including the SEPs
    * (deterministic; the oracle replays the same enumeration).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            maxRounds: Int = 40): DataFrame =
    saOf(buildIndex(docs, idCol, textCol, maxRounds))

  /** The `(doc_id, pos, gid, sa_rank)` view of a built index. */
  def saOf(ix: Index): DataFrame =
    ix.addr.filter(col("code") =!= ix.sepCode)
      .join(ix.full.select(col("gid"), col("rank")), Seq("gid"))
      .select(col(ix.idCol), col("pos"), col("gid"), col("rank").as("sa_rank"))

  /** Duplicated-prefix groups at a FIXED power-of-two window: stop the
    * doubling at `prefixLen` codes and return each text position's
    * group id and group size — positions sharing a group share their
    * first `prefixLen` codes of the corpus string EXACTLY (the
    * suffix-array view of t15's duplicated k-grams, char-level and
    * windowing across document fences by construction). Group sizes
    * ride the doubling's own per-group counts (settled positions are
    * singletons by definition); rounds = log₂(prefixLen),
    * convergence-free — and freezing makes the tail rounds touch only
    * the still-duplicated residue.
    */
  def prefixGroups(docs: DataFrame, idCol: String, textCol: String,
                   prefixLen: Int): DataFrame = {
    require(prefixLen > 0 && (prefixLen & (prefixLen - 1)) == 0,
      s"prefixLen must be a power of two (got $prefixLen)")
    val (addr, _, total) = Checkpoints.eagerCounted(addressed(docs, idCol, textCol))
    val (full, _) = doubling(addr, total, prefixLen.toLong, 40, retainLevels = false)
    addr.filter(col("code") =!= lit(Sep.toLong))
      .join(full, Seq("gid"))
      .select(col(idCol), col("pos"), col("gid"),
        col("rank").as("grp"), col("gsz").as("grp_size"))
  }

  /** Token-space [[prefixGroups]]: group id + size of each sequence
    * position's first `prefixLen` CODES (tokens), fences included.
    */
  def prefixGroupsFromRows(ids: DataFrame, rows: DataFrame, idCol: String,
                           sepCode: Long, prefixLen: Int): DataFrame = {
    require(prefixLen > 0 && (prefixLen & (prefixLen - 1)) == 0,
      s"prefixLen must be a power of two (got $prefixLen)")
    val (addr, _, total) =
      Checkpoints.eagerCounted(addressedRows(ids, rows, idCol, sepCode))
    val (full, _) = doubling(addr, total, prefixLen.toLong, 40, retainLevels = false)
    addr.filter(col("code") =!= sepCode)
      .join(full, Seq("gid"))
      .select(col(idCol), col("pos"), col("gid"),
        col("rank").as("grp"), col("gsz").as("grp_size"))
  }

  /** LCP of SA-ADJACENT suffixes, computed DISTRIBUTEDLY by binary
    * descent over the retained doubling levels (never Kasai's
    * sequential scan): for the pair at ranks (r, r+1), accumulate
    * `h += m` whenever the level-m ranks at `gid + h` agree — each
    * level is two equi-joins over the n−1 pairs. Exact: rank equality
    * at level m ⇔ the next m codes agree; out-of-range lookups get
    * per-side sentinels so two exhausted suffixes never fake a match.
    * Output: `(sa_rank, gid1, gid2, lcp)` for every adjacent pair over
    * ALL positions (SEP suffixes included — they fence, and the
    * interval clip to documents drops them later). Requires an index
    * built with `retainLevels = true`.
    */
  def lcpAdjacent(ix: Index): DataFrame = lcpAdjacentAt(ix, None)

  /** [[lcpAdjacent]] with the derived descent width overridable —
    * test seam only: the lake-mode path (per-level store sever +
    * reclaim) engages past ~32 M positions, which no unit fixture
    * reaches; the spec forces a small width to pin lake ≡ in-memory
    * descent on a gate-sized corpus.
    */
  private[text] def lcpAdjacentAt(ix: Index, widthOverride: Option[Int]): DataFrame = {
    require(ix.levels.nonEmpty, "lcpAdjacent needs retainLevels = true")
    val spark = ix.full.sparkSession
    val bp = widthOverride.getOrElse(derivedBuildParts(parts(ix.full), ix.total))
    // Past the derived-width threshold the descent inherits the
    // build's disciplines: every join side pre-partitioned on its join
    // key at ~1 M rows/task (the join reuses the partitioning — no
    // second exchange), and the working pair frame severed through the
    // LEVEL STORE each round with the superseded generation's files
    // (parquet AND the round's now-unreferenced shuffles) reclaimed
    // eagerly. The reclamation is the load-bearing part: the ×100 LCP
    // leg writes ~24 GB of shuffle per level, and ContextCleaner's
    // periodic GC (30 min default) never fires inside an 11-level
    // loop — the round-16 run died on No-space exactly this way. On a
    // real cluster this is the same contract: per-level lake
    // checkpoints, shuffle data reclaimed once the next generation is
    // durable.
    val scaleUp = bp > parts(ix.full)
    def wide(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      if (scaleUp) df.repartition(bp, key) else df
    val left = ix.full.select(col("rank").as("sa_rank"), col("gid").as("gid1"))
    val right = ix.full.select((col("rank") - 1L).as("sa_rank"), col("gid").as("gid2"))
    val pairs0 = wide(left, col("sa_rank"))
      .join(wide(right, col("sa_rank")), Seq("sa_rank"))
      .withColumn("lcp", lit(0L))
    // The largest level can never match (all final ranks distinct), so
    // the descent starts one below it; max reachable h = Σ m = M−1,
    // and LCP ≤ M−1 because the build converged at M.
    val desc = ix.levels.sortBy(-_._1).drop(1)
    val lakeMode = scaleUp && ix.levelStore.isDefined
    def lakeSever(df: DataFrame, step: Int): DataFrame = {
      val dir = ix.levelStore.get
      df.write.mode("overwrite").parquet(s"$dir/descent/step=$step")
      if (step > 0) {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/descent/step=${step - 1}"), true)
      }
      // The previous step's shuffles are unreferenced once this write
      // is durable; nudge the cleaner NOW (weak-ref processing only
      // happens on a GC) so their files free before the next level
      // writes its own ~24 GB.
      System.gc()
      spark.read.parquet(s"$dir/descent/step=$step")
    }
    var (p, tok) =
      if (lakeMode) (lakeSever(pairs0, 0), Checkpoints.none(pairs0))
      else Checkpoints.eager(pairs0)
    var sinceCkpt = 0
    for (((m, lvl), i) <- desc.zipWithIndex) {
      val a = lvl.select(col("gid").as("__ga"), col("rank").as("__ra"))
      val b = lvl.select(col("gid").as("__gb"), col("rank").as("__rb"))
      p = wide(p, col("gid1") + col("lcp"))
        .join(wide(a, col("__ga")), col("__ga") === col("gid1") + col("lcp"), "left_outer")
      p = wide(p, col("gid2") + col("lcp"))
        .join(wide(b, col("__gb")), col("__gb") === col("gid2") + col("lcp"), "left_outer")
        .withColumn("lcp", col("lcp") +
          when(coalesce(col("__ra"), lit(-1L)) === coalesce(col("__rb"), lit(-2L)),
            lit(m)).otherwise(lit(0L)))
        .select(col("sa_rank"), col("gid1"), col("gid2"), col("lcp"))
      sinceCkpt += 1
      if (lakeMode) {
        p = lakeSever(p, i + 1)
      } else if (sinceCkpt == 3 || i == desc.length - 1) {
        // Sever every few levels (and at the end): a per-level
        // checkpoint pays one fixed job per level for nothing — a
        // handful of chained equi-joins is a fine plan — but an
        // UNBOUNDED chain re-executes from the last severed point on
        // every reference.
        val (ck, t2) = Checkpoints.eager(p)
        tok.free()
        p = ck
        tok = t2
        sinceCkpt = 0
      }
    }
    p
  }

  /** Coalesce half-open `[lo, hi)` intervals into maximal disjoint
    * islands — gaps-and-islands WITHOUT a single-partition window: one
    * two-pass running max of earlier ends (island starts where `lo`
    * exceeds it), one two-pass prefix sum of the start flags (island
    * ids), one groupBy.
    */
  def mergeIntervals(iv: DataFrame, np: Int): DataFrame = {
    val distinctIv = iv.select(col("lo").cast("long").as("lo"),
      col("hi").cast("long").as("hi")).distinct()
    val pm = GlobalRank.withGlobalPrefixMaxExcl(distinctIv, "pmax", col("hi"), np,
      col("lo"), col("hi"))
    val flagged = pm.withColumn("__st",
      when(col("pmax").isNull || col("lo") > col("pmax"), 1L).otherwise(0L))
    GlobalRank.withGlobalPrefixSum(flagged, "__isl", col("__st"), col("lo"), col("hi"))
      .groupBy(col("__isl"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .drop("__isl")
  }

  /** Variable-length duplicated spans ≥ `minLen`, as merged disjoint
    * global `[lo, hi)` gid intervals: every adjacent pair with
    * LCP ≥ L contributes BOTH copies' intervals `[gid, gid + lcp)`
    * (Lee et al. remove every occurrence of a duplicated span), and
    * any two suffixes sharing ≥ L are linked by a chain of adjacent
    * pairs each with LCP ≥ L, so adjacency alone covers every
    * occurrence of every duplicated substring.
    */
  def duplicatedIntervals(lcpPairs: DataFrame, minLen: Long, np: Int): DataFrame =
    mergeIntervals(
      lcpPairs.filter(col("lcp") >= minLen)
        .select(explode(array(
          struct(col("gid1").as("lo"), (col("gid1") + col("lcp")).as("hi")),
          struct(col("gid2").as("lo"), (col("gid2") + col("lcp")).as("hi")))).as("iv"))
        .select(col("iv.lo").as("lo"), col("iv.hi").as("hi")),
      np)

  /** EXACT-SUBSTRING DEDUPLICATION, end to end (Lee et al. 2022): build
    * the SA with retained levels, LCP every adjacent pair, take the
    * union of both copies' intervals wherever LCP ≥ `minLen`, clip the
    * merged intervals to documents (position-level: explode the
    * DISJOINT merged intervals — total ≤ corpus size by construction —
    * and equi-join the addressing; no range join anywhere), and cut
    * the covered character ranges from each document. Returns
    * `(idCol, clean_text, n_removed)` for EVERY input document
    * (untouched docs keep their text; fully-covered docs come back
    * empty, not null). Per-document windows (few spans per doc) do the
    * segment complement — partition-parallel, never global.
    *
    * One size job measures the corpus (positions and UTF-8 bytes). When
    * its [[driverFootprint]] — 20 bytes per position plus 5 per text
    * byte — fits the `SuffixArray.removeDuplicatedSpans`
    * [[DriverBound]] budget, the documents are collected once and
    * deduped on the driver ([[driverRemoveSpans]]): bit-identical rows
    * and schema from two Spark jobs. Above the bound the distributed
    * build runs, reusing the measured size. Both jobs, and the
    * distributed build, carry the switch's labels.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            minLen: Long, maxRounds: Int = 40): DataFrame =
    DriverBound("SuffixArray.removeDuplicatedSpans", docs.sparkSession) { sw =>
      val size = sw.measure(docs.agg(positionCount(textCol),
        coalesce(sum(octet_length(col(textCol)).cast("long")), lit(0L))).head())
      val positions = size.getLong(0)
      // The driver build runs to convergence; take it only where the
      // doubling's round cap cannot stop the distributed build short.
      val converges = maxRounds >= 62 || (1L << maxRounds) >= positions
      val onDriver =
        if (sw.fits(positions, driverFootprint(positions, size.getLong(1))) &&
            positions < Int.MaxValue && converges)
          driverRemoveSpans(docs, idCol, textCol, minLen)
        else None
      onDriver.getOrElse {
        sw.distributed()
        val ix = buildIndexOfSize(docs, idCol, textCol, positions, maxRounds,
          retainLevels = true, levelStore = None)
        removeSpansFromLcp(docs, idCol, textCol, lcpAdjacent(ix),
          ix.addr.filter(col("code") =!= ix.sepCode)
            .select(col(idCol), col("pos"), col("gid")),
          minLen, rankParts(ix.addr, ix.total))
      }
    }

  /** Driver bytes per corpus position of [[driverRemoveSpans]]: at most
    * five `int` arrays live at once (codes, suffix array, ranks, scratch
    * and sort buckets while sorting; four for the LCP and the cover).
    */
  private val DriverBytesPerPosition = 20L

  /** Driver bytes per UTF-8 text byte: the collected result as shipped
    * (1), decoded into JVM strings (≤ 2) and the cleaned output (≤ 2).
    */
  private val DriverBytesPerTextByte = 5L

  private[text] def driverFootprint(positions: Long, textBytes: Long): Long =
    DriverBytesPerPosition * positions + DriverBytesPerTextByte * textBytes

  /** The in-memory twin of the distributed chain: collect `(id, text)`
    * once, lay out the SEP-joined codepoint string in id order (trailing
    * SEP included), build its suffix array and Kasai LCP, mark both
    * copies of every adjacent pair with LCP ≥ `minLen`, and cut each
    * document's covered codepoints. None when the ids are not a key
    * (null or repeated after the long cast): the distributed addressing
    * defines that case, so it keeps it.
    */
  private def driverRemoveSpans(docs: DataFrame, idCol: String, textCol: String,
                                minLen: Long): Option[DataFrame] = {
    val picked = docs.select(col(idCol), col(textCol))
    val schema = StructType(Seq(picked.schema.head,
      StructField("clean_text", StringType, picked.schema(1).nullable),
      StructField("n_removed", LongType, nullable = false)))
    val rows = docs.select(col(idCol), col(idCol).cast("long"), col(textCol)).collect()
    if (rows.exists(_.isNullAt(1))) return None
    val sorted = rows.sortBy(_.getLong(1))
    if (sorted.indices.drop(1).exists(i => sorted(i).getLong(1) == sorted(i - 1).getLong(1)))
      return None
    val texts = sorted.map(r => if (r.isNullAt(2)) "" else r.getString(2))
    val s = new Array[Int](texts.iterator.map(t => t.codePointCount(0, t.length) + 1).sum)
    var g = 0
    texts.foreach { t =>
      t.codePoints().forEach { c => s(g) = c; g += 1 }
      s(g) = Sep
      g += 1
    }
    val reach = coverReach(s, minLen)
    // One sweep in gid order: a position is covered while it lies below
    // the furthest end of any interval starting at or before it.
    g = 0
    var cur = 0
    val out = new java.util.ArrayList[Row](sorted.length)
    sorted.indices.foreach { d =>
      val t = texts(d)
      val kept = new java.lang.StringBuilder(t.length)
      var removed = 0L
      t.codePoints().forEach { c =>
        cur = math.max(cur, reach(g))
        if (g < cur) removed += 1L else kept.appendCodePoint(c)
        g += 1
      }
      cur = math.max(cur, reach(g))
      g += 1
      out.add(Row(sorted(d).get(0),
        if (removed == 0L) sorted(d).get(2) else kept.toString, removed))
    }
    Some(docs.sparkSession.createDataFrame(out, schema))
  }

  /** For each position of `s`, the furthest exclusive end of a duplicated
    * interval starting there (0 = none): both copies `[p, p + lcp)` of
    * every suffix-array-adjacent pair with LCP ≥ `minLen`. Overwrites
    * `s` with dense codes.
    */
  private def coverReach(s: Array[Int], minLen: Long): Array[Int] = {
    val n = s.length
    val sa = suffixArrayOf(s)
    // inverse permutation, then Kasai: lcp(r) = LCP(sa(r - 1), sa(r))
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val lcp = new Array[Int](n)
    var h = 0
    i = 0
    while (i < n) {
      val r = rank(i)
      if (r > 0) {
        val j = sa(r - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(r) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    val reach = rank // no longer needed
    java.util.Arrays.fill(reach, 0)
    var r = 1
    while (r < n) {
      val l = lcp(r)
      if (l >= minLen) {
        val a = sa(r - 1)
        val b = sa(r)
        reach(a) = math.max(reach(a), a + l)
        reach(b) = math.max(reach(b), b + l)
      }
      r += 1
    }
    reach
  }

  /** Suffix array of `s` by prefix doubling with counting sorts,
    * O(n log n) over primitive arrays; a suffix that is a prefix of
    * another sorts first. Rewrites `s` to dense codes (order and
    * equality preserved).
    */
  private def suffixArrayOf(s: Array[Int]): Array[Int] = {
    val n = s.length
    var rk = new Array[Int](n)
    var tmp = new Array[Int](n)
    // dense codes: rank of each code among the distinct codes
    System.arraycopy(s, 0, tmp, 0, n)
    java.util.Arrays.sort(tmp)
    var sigma = 0
    var i = 0
    while (i < n) {
      if (i == 0 || tmp(i) != tmp(i - 1)) { tmp(sigma) = tmp(i); sigma += 1 }
      i += 1
    }
    i = 0
    while (i < n) { s(i) = java.util.Arrays.binarySearch(tmp, 0, sigma, s(i)); i += 1 }
    val sa = new Array[Int](n)
    val cnt = new Array[Int](math.max(n, sigma) + 1)
    i = 0
    while (i < n) { cnt(s(i)) += 1; rk(i) = s(i); i += 1 }
    i = 1
    while (i < cnt.length) { cnt(i) += cnt(i - 1); i += 1 }
    i = n - 1
    while (i >= 0) { cnt(s(i)) -= 1; sa(cnt(s(i))) = i; i -= 1 }
    var classes = sigma
    var k = 1
    while (classes < n && k < n) {
      // order by the second key (rank at +k, missing first) ...
      var p = 0
      i = n - k
      while (i < n) { tmp(p) = i; p += 1; i += 1 }
      i = 0
      while (i < n) { if (sa(i) >= k) { tmp(p) = sa(i) - k; p += 1 }; i += 1 }
      // ... then stably by the first
      java.util.Arrays.fill(cnt, 0, classes, 0)
      i = 0
      while (i < n) { cnt(rk(i)) += 1; i += 1 }
      i = 1
      while (i < classes) { cnt(i) += cnt(i - 1); i += 1 }
      i = n - 1
      while (i >= 0) {
        val j = tmp(i)
        cnt(rk(j)) -= 1
        sa(cnt(rk(j))) = j
        i -= 1
      }
      // re-rank by the (first, second) pair
      tmp(sa(0)) = 0
      var c = 0
      i = 1
      while (i < n) {
        val a = sa(i - 1)
        val b = sa(i)
        val a2 = if (a + k < n) rk(a + k) else -1
        val b2 = if (b + k < n) rk(b + k) else -1
        if (rk(a) != rk(b) || a2 != b2) c += 1
        tmp(b) = c
        i += 1
      }
      val t = rk; rk = tmp; tmp = t
      classes = c + 1
      k <<= 1
    }
    sa
  }

  /** TOKEN-SPACE exact-substring dedup — the composition Lee et al.
    * 2022 actually ship: dedup the TOKENIZED corpus, so removed-span
    * boundaries land on token edges by construction and the cleaned
    * token sequences feed sequence packing directly. Cuts every
    * occurrence of every duplicated token span ≥ `minLen` TOKENS from
    * the sequences of a token-space index (same interval algebra as
    * the char path: both copies' intervals from every adjacent pair
    * with LCP ≥ minLen, merged islands, clipped to documents by
    * equi-join). The complement needs no substring re-assembly here —
    * a kept token is simply a position not covered, so the cut is ONE
    * anti-join on `(id, pos)`; returns the kept rows
    * `(idCol, pos, code)` with ORIGINAL positions (order preserved —
    * consumers renumber or aggregate as needed). Untouched documents
    * pass through; fully-covered or empty documents return no rows
    * (callers left-join their id list, the gate discipline).
    *
    * `addrText` is the index's text addressing
    * `(idCol, pos, gid, code)` — SEP rows already filtered, so spans
    * crossing document fences clip at the fence by construction.
    */
  def removeTokenSpansFromLcp(addrText: DataFrame, idCol: String,
                              lcpPairs: DataFrame, minLen: Long,
                              np: Int): DataFrame = {
    val covered = coveredGids(duplicatedIntervals(lcpPairs, minLen, np))
      .join(addrText.select(col(idCol), col("pos"), col("gid")), Seq("gid"))
      .select(col(idCol), col("pos"))
    addrText
      .join(covered, Seq(idCol, "pos"), "left_anti")
      .select(col(idCol), col("pos"), col("code"))
  }

  /** Explode merged `[lo, hi)` islands into the covered POSITION set —
    * checkpointed with fresh leaf stats before anything joins it. The
    * planner cannot see through `explode(sequence(...))`: its logical
    * stats carry the merged-islands estimate (thousands of rows), while
    * the exploded set is corpus-scale on a duplicate-heavy corpus — the
    * ×100 run (100 exact clones per document, ~150 M covered positions)
    * planned a BROADCAST of the "tiny" side and died building it. One
    * checkpoint job makes every downstream join/anti-join plan against
    * the true size at every scale (and the count it materializes is the
    * removed-position total a pipeline reports anyway).
    */
  private def coveredGids(islands: DataFrame): DataFrame =
    Checkpoints.eagerCounted(
      islands.select(explode(sequence(col("lo"), col("hi") - 1)).as("gid")))._1

  /** [[removeTokenSpansFromLcp]] end to end: build the token-space
    * index with retained levels over `(idCol, pos, code)` rows, LCP
    * every adjacent pair, cut. The production one-call form.
    */
  def removeDuplicatedTokenSpans(ids: DataFrame, rows: DataFrame, idCol: String,
                                 sepCode: Long, minLen: Long,
                                 maxRounds: Int = 40): DataFrame = {
    val ix = buildIndexFromRows(ids, rows, idCol, sepCode, maxRounds,
      retainLevels = true)
    removeTokenSpansFromLcp(
      ix.addr.filter(col("code") =!= ix.sepCode)
        .select(col(idCol), col("pos"), col("gid"), col("code")),
      idCol, lcpAdjacent(ix), minLen, rankParts(ix.addr, ix.total))
  }

  /** The removal half of [[removeDuplicatedSpans]], from a precomputed
    * adjacent-pair LCP table and text addressing — the entry a
    * production pipeline (which materializes the LCP relation once and
    * feeds both the audit report and the cleaning pass) and the
    * battery-shared gate memo use.
    */
  def removeSpansFromLcp(docs: DataFrame, idCol: String, textCol: String,
                         lcpPairs: DataFrame, addrText: DataFrame,
                         minLen: Long, np: Int): DataFrame =
    cutCoveredPositions(docs, idCol, textCol,
      coveredGids(duplicatedIntervals(lcpPairs, minLen, np))
        .join(addrText.select(col(idCol), col("pos"), col("gid")), Seq("gid"))
        .select(col(idCol), col("pos")))

  /** Cut a COVERED POSITION SET from each document: `covered` is
    * `(idCol, pos)` — the 1-based codepoint positions to remove
    * (duplicate rows tolerated) — and the result is
    * `(idCol, clean_text, n_removed)` for EVERY input document, the
    * [[removeSpansFromLcp]] output contract. Per-document windows (few
    * spans per doc) do the island merge and segment complement —
    * partition-parallel, never global. This is the removal tail shared
    * by the batch SA path and the streaming admission twin
    * ([[graft.streaming.SaDedupStream]]), which derive `covered`
    * differently but cut identically.
    */
  def cutCoveredPositions(docs: DataFrame, idCol: String, textCol: String,
                          covered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Checkpoints.eager (house discipline): consumed by segments,
    // tails, and the flag. The token outlives this call — the returned
    // lazy frame re-reads `spans` per execution — so it is not freed
    // here; ContextCleaner reclaims the blocks.
    val spans = Checkpoints.eager(covered
      .withColumn("__st", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") > lag(col("pos"), 1).over(w) + 1L, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__st")).over(wsum))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("rm_lo"), (max(col("pos")) + 1L).as("rm_hi")))._1
    val lens = docs.select(col(idCol), length(col(textCol)).cast("long").as("__n"))
    val w2 = Window.partitionBy(col(idCol)).orderBy(col("rm_lo"))
    val mids = spans
      .withColumn("seg_lo", coalesce(lag(col("rm_hi"), 1).over(w2), lit(1L)))
      .withColumn("seg_hi", col("rm_lo"))
      .select(col(idCol), col("seg_lo"), col("seg_hi"))
    val tails = spans.groupBy(col(idCol)).agg(max(col("rm_hi")).as("seg_lo"))
      .join(lens, Seq(idCol))
      .select(col(idCol), col("seg_lo"), (col("__n") + 1L).as("seg_hi"))
    val segs = mids.unionByName(tails).filter(col("seg_hi") > col("seg_lo"))
    val frags = segs.join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      // SQL substring counts CODEPOINTS (UTF8String chars), matching
      // the addressing and DuckDB substr — never JVM UTF-16 units.
      .withColumn("__frag", expr(s"substring($textCol, seg_lo, seg_hi - seg_lo)"))
      .groupBy(col(idCol))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(seg_lo, __frag))), x -> x.__frag), '')").as("__clean"))
    val touched = spans.groupBy(col(idCol))
      .agg(sum(col("rm_hi") - col("rm_lo")).as("__nrm"))
    docs.select(col(idCol), col(textCol))
      .join(touched, Seq(idCol), "left_outer")
      .join(frags, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("__nrm").isNull, col(textCol))
          .otherwise(coalesce(col("__clean"), lit(""))).as("clean_text"),
        coalesce(col("__nrm"), lit(0L)).as("n_removed"))
  }
}
