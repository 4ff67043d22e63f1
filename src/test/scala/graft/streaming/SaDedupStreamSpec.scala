package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming twin of the sa4 exact-substring dedup: arrivals are
  * admitted against the frozen corpus's window-fingerprint state
  * (spans shared with the last rebuild's cleaned corpus are cut,
  * bit-identically across restart and replay), arrival-vs-arrival
  * repeats pass admission and are caught by the next rebuild, whose
  * output IS the batch operator over the accumulated corpus — the
  * exactness contract `SaDedupStream`'s scaladoc states.
  */
class SaDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val L = 12

  // base corpus: docs 0/3 duplicate a long span of each other (the
  // rebuild cuts BOTH); doc 1 unique; doc 2 unique short filler
  private val base = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "completely original base text nothing repeats in here"),
    (2L, "short and sweet filler"),
    (3L, "AA the quick brown fox jumps over the lazy dog ZZ"))

  /** Brute admission: cut from `text` every maximal run of positions
    * covered by an L-window that occurs in the frozen corpus's
    * window set (windows within each frozen doc, 1-based codepoints).
    */
  private def bruteAdmit(text: String, frozen: Seq[String]): (String, Long) = {
    val windows = frozen.flatMap { t =>
      (0 to t.length - L).map(i => t.substring(i, i + L))
    }.toSet
    val covered = Array.fill(text.length)(false)
    if (text.length >= L)
      (0 to text.length - L).foreach { i =>
        if (windows.contains(text.substring(i, i + L)))
          (i until i + L).foreach(covered(_) = true)
      }
    val clean = text.zipWithIndex.collect { case (c, i) if !covered(i) => c }.mkString
    (clean, covered.count(identity).toLong)
  }

  private def runStream(drop: String, state: String, out: String,
                        ckpt: String): Unit = {
    val q = SaDedupStream.run(spark, drop, state, out, ckpt, L)
    try assert(q.awaitTermination(180000), "stream did not finish within 180 s")
    finally q.stop()
  }

  private def jsonl(slice: Seq[(Long, String)]): String =
    slice.toDF("doc_id", "text")
      .select(to_json(struct($"doc_id", $"text"))).as[String]
      .collect().mkString("", "\n", "\n")

  test("admission cuts exactly the frozen-shared spans; repeats wait for the rebuild") {
    val dir = Files.createTempDirectory("sadedup")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val out = dir.resolve("out").toString
    val clean = dir.resolve("clean").toString
    val ckpt = dir.resolve("ckpt").toString
    val state = s"sadedup_${dir.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}"

    // rebuild 0 over the base corpus: the batch operator cleans it and
    // freezes the window census of the CLEANED text
    SaDedupStream.rebuildCompact(
      spark, base.toDF("doc_id", "text"), state, clean, rebuildId = 0L, minLen = L)
    val cleanedBase = spark.read.parquet(s"$clean/rebuild=0")
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toSeq
    // the rebuild IS the batch operator: doc 0/3's shared span cut BOTH sides
    val batchWant = graft.text.SuffixArray
      .removeDuplicatedSpans(base.toDF("doc_id", "text"), "doc_id", "text", L.toLong)
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toSeq
    assert(cleanedBase.sortBy(_._1) == batchWant.sortBy(_._1))
    val frozen = cleanedBase.map(_._2)

    // arrivals: 10 copies a CLEANED-base span (caught at admission);
    // 11 is unique; 12 is shorter than a window; 13 copies the span
    // the rebuild REMOVED from the base (must NOT be cut — the frozen
    // corpus no longer contains it); 14 and 15 duplicate EACH OTHER
    // (never seen frozen -> pass admission, caught at next rebuild)
    val keptBaseSpan = frozen.filter(_.length >= L).head.take(L + 6)
    val arrivals1 = Seq(
      (10L, s"XX $keptBaseSpan YY"),
      (11L, "an entirely novel arrival with fresh words"),
      (12L, "tiny doc"))
    val arrivals2 = Seq(
      (13L, "PP the quick brown fox jumps over the lazy dog QQ"),
      (14L, "repeated arrival payload shared by two arriving docs ONE"),
      (15L, "repeated arrival payload shared by two arriving docs TWO"))
    Files.writeString(drop.resolve("d1.jsonl"), jsonl(arrivals1))
    runStream(drop.toString, state, out, ckpt)
    Files.writeString(drop.resolve("d2.jsonl"), jsonl(arrivals2))
    runStream(drop.toString, state, out, ckpt)

    val got = SaDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    val want = (arrivals1 ++ arrivals2).map { case (id, t) =>
      val (c, n) = bruteAdmit(t, frozen)
      (id, c, n)
    }.sortBy(_._1)
    assert(got == want, s"admission diverged from brute:\n$got\nvs\n$want")
    // classes live: a cut arrival, untouched arrivals, and the
    // removed-span copy NOT cut (frozen state is the CLEANED corpus)
    assert(got.find(_._1 == 10L).get._3 > 0)
    assert(got.find(_._1 == 11L).get._3 == 0)
    assert(got.find(_._1 == 13L).get._3 == 0,
      "arrival copying a span the rebuild removed must pass admission")
    // intra-stream repeats pass admission...
    assert(got.find(_._1 == 14L).get._3 == 0 && got.find(_._1 == 15L).get._3 == 0)

    // ...and are caught at the NEXT rebuild, which equals the batch
    // operator over the accumulated raw corpus (stream drift erased)
    val raw = (base ++ arrivals1 ++ arrivals2).toDF("doc_id", "text")
    SaDedupStream.rebuildCompact(spark, raw, state, clean, rebuildId = 1L, minLen = L)
    val rebuilt = spark.read.parquet(s"$clean/rebuild=1")
      .orderBy($"doc_id").select($"doc_id", $"clean_text", $"n_removed")
      .as[(Long, String, Long)].collect().toSeq
    val batchAll = graft.text.SuffixArray
      .removeDuplicatedSpans(raw, "doc_id", "text", L.toLong)
      .orderBy($"doc_id").select($"doc_id", $"clean_text", $"n_removed")
      .as[(Long, String, Long)].collect().toSeq
    assert(rebuilt == batchAll, "rebuild diverged from the batch operator")
    assert(rebuilt.find(_._1 == 14L).get._3 > 0 && rebuilt.find(_._1 == 15L).get._3 > 0,
      "arrival-vs-arrival repeat must be cut by the rebuild")
    // the state table now serves the new generation: census of rebuild 1
    val stateH = spark.table(state).where($"batch" === 1L)
      .select($"h").as[String].collect().toSet
    val wantH = SaDedupStream.windowCensus(
      spark.read.parquet(s"$clean/rebuild=1")
        .select($"doc_id", $"clean_text".as("text")),
      "doc_id", "text", L).as[String].collect().toSet
    assert(stateH == wantH)
  }

  test("replaying an admission batch is byte-idempotent") {
    val dir = Files.createTempDirectory("sareplay")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val out = dir.resolve("out").toString
    val clean = dir.resolve("clean").toString
    val ckpt = dir.resolve("ckpt").toString
    val state = s"sareplay_${dir.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}"
    SaDedupStream.rebuildCompact(
      spark, base.toDF("doc_id", "text"), state, clean, rebuildId = 0L, minLen = L)
    Files.writeString(drop.resolve("d1.jsonl"), jsonl(Seq(
      (20L, s"XX ${base(1)._2} YY"), (21L, "nothing shared here at all"))))
    runStream(drop.toString, state, out, ckpt)
    val first = SaDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    // crash-replay the delivered batch: foreachBatch re-runs id 0
    SaDedupStream.processBatch(
      spark.read.schema(Drops.docs).json(drop.toString),
      0L, state, out, L)
    val second = SaDedupStream.results(spark, out)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(first == second, "replayed batch changed the output")
    assert(first.find(_._1 == 20L).get._3 > 0)
  }
}
