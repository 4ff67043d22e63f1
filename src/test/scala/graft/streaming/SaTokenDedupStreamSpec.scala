package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.BpeTrainer

/** Streaming twin of the sa6 TOKEN-SPACE exact-substring dedup:
  * arrivals are encoded with the FROZEN BPE merges of the last rebuild
  * and admitted against the frozen token-window census (token spans
  * shared with the cleaned corpus are cut, bit-identically across
  * restart and replay); an arrival copying a span the rebuild REMOVED
  * is NOT cut (the census is the CLEANED corpus — the negative case);
  * arrival-vs-arrival repeats pass admission and are caught by the
  * next rebuild, which IS the batch operator under retrained merges —
  * the exactness contract `SaTokenDedupStream`'s scaladoc states.
  */
class SaTokenDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // 5 merges leave near-char-level tokens and a doc's token stream is
  // contiguous ACROSS words (the sa6 fence semantics: fences sit
  // between docs, not words) — so the window must be long enough that
  // incidental char n-gram overlap ("repeats"/"repeated") cannot match
  private val MinTok = 10
  private val NumMerges = 5
  private val SepCh = ''

  // base corpus: docs 0/3 share a long word run (the rebuild cuts
  // BOTH copies); doc 1 unique; doc 2 short filler
  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "completely original base text nothing repeats in here"),
    (2L, "short filler"),
    (3L, "aa the quick brown fox jumps over the lazy dog zz"))

  private def runStream(drop: String, state: String, stateDir: String,
                        out: String, ckpt: String): Unit = {
    val q = SaTokenDedupStream.run(spark, drop, state, stateDir, out, ckpt, MinTok)
    try assert(q.awaitTermination(180000), "stream did not finish within 180 s")
    finally q.stop()
  }

  private def jsonl(slice: Seq[(Long, String)]): String =
    slice.toDF("doc_id", "text")
      .select(to_json(struct($"doc_id", $"text"))).as[String]
      .collect().mkString("", "\n", "\n")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Brute token-space admission: tokenize with the frozen merges, cut
    * every token covered by a MinTok-window present in the frozen
    * cleaned corpus's window set.
    */
  private def bruteAdmit(text: String, frozenSeqs: Seq[Seq[String]],
                         merges: Seq[BpeTrainer.Merge]): (Long, Long, String) = {
    val windows = frozenSeqs.flatMap(ts =>
      (0 to ts.length - MinTok).map(i => ts.slice(i, i + MinTok).mkString(SepCh.toString))
    ).toSet
    val toks = BpeTrainer.encodeText(text, merges)
    val covered = Array.fill(toks.length)(false)
    if (toks.length >= MinTok)
      (0 to toks.length - MinTok).foreach { i =>
        if (windows.contains(toks.slice(i, i + MinTok).mkString(SepCh.toString)))
          (i until i + MinTok).foreach(covered(_) = true)
      }
    val kept = toks.zipWithIndex.collect { case (t, i) if !covered(i) => t }
    (kept.length.toLong, covered.count(identity).toLong,
      md5hex(kept.mkString(SepCh.toString)))
  }

  /** The frozen cleaned corpus as token sequences (pos order). */
  private def frozenSeqs(stateDir: String): Map[Long, Seq[String]] =
    spark.read.parquet(s"$stateDir/clean/rebuild=0")
      .orderBy($"doc_id", $"pos")
      .as[(Long, Long, String)].collect().toSeq
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }

  test("admission cuts frozen-shared token spans; removed spans pass; repeats wait for the rebuild") {
    val dir = Files.createTempDirectory("satok")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val out = dir.resolve("out").toString
    val stateDir = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val state = s"satok_${dir.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}"

    // rebuild 0: retrained merges + batch token dedup + census freeze
    SaTokenDedupStream.rebuildCompact(spark, base.toDF("doc_id", "text"),
      state, stateDir, rebuildId = 0L, minTok = MinTok, numMerges = NumMerges)
    val merges = SaTokenDedupStream.loadMerges(spark, s"$stateDir/merges/rebuild=0")
    assert(merges.length == NumMerges)

    // the rebuild IS the batch operator: token rows of the cleaned
    // corpus equal removeDuplicatedTokenSpans over the base (by string)
    val frozen = frozenSeqs(stateDir)
    // docs 0 and 3 must both have lost tokens; 1 and 2 untouched
    val baseToks = base.map { case (id, t) =>
      id -> BpeTrainer.encodeText(t, merges)
    }.toMap
    assert(frozen(0L).length < baseToks(0L).length, "doc 0 not cut by rebuild")
    assert(frozen(3L).length < baseToks(3L).length, "doc 3 not cut by rebuild")
    assert(frozen(1L) == baseToks(1L) && frozen(2L) == baseToks(2L))

    // arrivals: 10 copies a KEPT span of the cleaned corpus (cut at
    // admission); 11 novel; 12 copies the span the rebuild REMOVED
    // (must NOT be cut — the frozen census no longer contains it);
    // 13/14 duplicate EACH OTHER (pass admission, cut at rebuild 1)
    val arrivals1 = Seq(
      (10L, "xx completely original base text nothing repeats in here yy"),
      (11L, "an entirely novel arrival with fresh words never seen"))
    val arrivals2 = Seq(
      (12L, "pp the quick brown fox jumps over the lazy dog qq"),
      (13L, "kwyjibo mulct brontifex apexual grimplewort payload one"),
      (14L, "kwyjibo mulct brontifex apexual grimplewort payload two"))
    Files.writeString(drop.resolve("d1.jsonl"), jsonl(arrivals1))
    runStream(drop.toString, state, stateDir, out, ckpt)
    // restart: second drop lands while the stream is down
    Files.writeString(drop.resolve("d2.jsonl"), jsonl(arrivals2))
    runStream(drop.toString, state, stateDir, out, ckpt)

    val got = SaTokenDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val fseqs = frozen.values.toSeq
    val want = (arrivals1 ++ arrivals2).map { case (id, t) =>
      val (nk, nr, fp) = bruteAdmit(t, fseqs, merges)
      (id, nk, nr, fp)
    }.sortBy(_._1)
    assert(got == want, s"admission diverged from brute:\n$got\nvs\n$want")
    // the classes are live: a cut arrival, untouched arrivals, and the
    // REMOVED-SPAN NEGATIVE CASE (frozen state is the CLEANED corpus)
    assert(got.find(_._1 == 10L).get._3 > 0, "frozen-shared span not cut")
    assert(got.find(_._1 == 11L).get._3 == 0)
    assert(got.find(_._1 == 12L).get._3 == 0,
      "arrival copying a span the rebuild removed must pass admission")
    assert(got.find(_._1 == 13L).get._3 == 0 && got.find(_._1 == 14L).get._3 == 0)

    // rebuild 1 over the accumulated raw corpus ≡ the batch operator
    // under RETRAINED merges; the arrival-vs-arrival repeat is cut now
    val raw = (base ++ arrivals1 ++ arrivals2).toDF("doc_id", "text")
    SaTokenDedupStream.rebuildCompact(spark, raw, state, stateDir,
      rebuildId = 1L, minTok = MinTok, numMerges = NumMerges)
    val merges1 = SaTokenDedupStream.loadMerges(spark, s"$stateDir/merges/rebuild=1")
    val cleaned1 = spark.read.parquet(s"$stateDir/clean/rebuild=1")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val t13 = BpeTrainer.encodeText(arrivals2(1)._2, merges1).length.toLong
    val t14 = BpeTrainer.encodeText(arrivals2(2)._2, merges1).length.toLong
    assert(cleaned1.getOrElse(13L, 0L) < t13 || cleaned1.getOrElse(14L, 0L) < t14,
      "arrival-vs-arrival repeat must be cut by the rebuild")
    // census serves the new generation
    val stateH = spark.table(state).where($"batch" === 1L)
      .select($"h").as[String].collect().toSet
    val wantH = SaTokenDedupStream.windowCensus(
      spark.read.parquet(s"$stateDir/clean/rebuild=1"), "doc_id", MinTok)
      .as[String].collect().toSet
    assert(stateH == wantH && stateH.nonEmpty)
  }

  test("replaying an admission batch is byte-idempotent") {
    val dir = Files.createTempDirectory("satokreplay")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val out = dir.resolve("out").toString
    val stateDir = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val state = s"satokr_${dir.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}"
    SaTokenDedupStream.rebuildCompact(spark, base.toDF("doc_id", "text"),
      state, stateDir, rebuildId = 0L, minTok = MinTok, numMerges = NumMerges)
    Files.writeString(drop.resolve("d1.jsonl"), jsonl(Seq(
      (20L, s"xx ${base(1)._2} yy"), (21L, "nothing shared here at all"))))
    runStream(drop.toString, state, stateDir, out, ckpt)
    val first = SaTokenDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    SaTokenDedupStream.processBatch(
      spark.read.schema(Drops.docs).json(drop.toString),
      0L, state, stateDir, out, MinTok)
    val second = SaTokenDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(first == second, "replayed batch changed the output")
    assert(first.find(_._1 == 20L).get._3 > 0)
  }
}
