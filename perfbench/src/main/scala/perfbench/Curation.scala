package perfbench

import graft.dedup.{Components, MinHashLSH}
import graft.text.{NgramLm, SuffixArray, TextOps}
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.Random

/** A generated document; `group` ties injected copies to their original. */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, group: Long)

/** Seeded corpus shaped like the engine's `documents` test table: token
  * soup over a 31-word vocabulary, 8–100 tokens, ten sources, five
  * languages. On top of `baseDocs` originals it injects exact copies
  * (`exactShare`), near copies with one token in 25 replaced
  * (`nearShare`), and one of three shared 8-token boilerplate passages
  * spliced into `boilerShare` of the originals.
  */
final class DocGen(seed: Long, baseDocs: Int) {
  val exactShare = 0.1
  val nearShare = 0.1
  val boilerShare = 0.15
  private val vocab = ("batch part spark line column order small sort fast value scan a hash " +
    "slow group agg filter query big key window row table stream merge data the join " +
    "customer vector").split(" ")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  def docs(): Vector[Doc] = {
    val rnd = new Random(seed)
    def tokens(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val boiler = Vector.fill(3)(tokens(8))
    val originals = Vector.tabulate(baseDocs) { i =>
      val toks = tokens(8 + rnd.nextInt(93))
      val withBoiler =
        if (rnd.nextDouble() < boilerShare) {
          val at = rnd.nextInt(toks.size + 1)
          toks.take(at) ++ boiler(rnd.nextInt(3)) ++ toks.drop(at)
        } else toks
      Doc(i.toLong, withBoiler.mkString(" "), langs(rnd.nextInt(langs.length)),
        s"src${rnd.nextInt(10)}", i.toLong)
    }
    var next = baseDocs.toLong
    val copies = originals.flatMap { d =>
      val exact =
        if (rnd.nextDouble() < exactShare) { next += 1; Seq(d.copy(doc_id = next - 1)) } else Nil
      val near =
        if (rnd.nextDouble() < nearShare) {
          val toks = d.text.split(" ")
          (0 until math.max(1, toks.length / 25)).foreach(_ => toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length)))
          next += 1
          Seq(d.copy(doc_id = next - 1, text = toks.mkString(" "), group = -1L))
        } else Nil
      exact ++ near
    }
    // Shuffle ids so copies are not adjacent to their originals.
    val all = originals ++ copies
    val ids = new Random(seed + 1).shuffle(all.indices.toVector)
    all.zip(ids).map { case (d, id) => d.copy(doc_id = id.toLong) }
  }
}

/** `curation`: quality gate → MinHash LSH + connected components
  * near-dup removal → exact-substring span removal → DSIR importance
  * selection under a token budget → token-window chunking into sharded
  * parquet. Each stage's output is materialized before the next starts,
  * as a curation pipeline stages its intermediates, so every stage's
  * work falls inside its own span.
  */
final class Curation(spark: SparkSession, work: Path, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._
  val baseDocs = 160
  val minTokens = 20
  val jaccard = 0.5
  val minSpanChars = 40L
  val budgetShare = 0.4
  val chunkTokens = 64
  val overlap = 8
  val shards = 4
  val warmSteps = 0 // a curation batch job runs its chain once per process
  val timedSteps = 1
  val tracedSteps = 1

  private val input = work.resolve("documents.parquet").toString
  private val output = work.resolve("shards").toString
  private var corpus: Vector[Doc] = Vector.empty
  private var budget = 0L
  private var last: Map[String, Double] = Map.empty
  private var keptTokens = 0L
  private var keptTexts: Array[String] = Array.empty

  def setup(): Unit = {
    corpus = new DocGen(seed, baseDocs).docs()
    budget = (corpus.map(_.text.split(" ").length.toLong).sum * budgetShare).toLong
    corpus.toDF().drop("group").coalesce(1).write.mode("overwrite").parquet(input)
  }

  def step(i: Int): Double = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(input)
    val good = tr.span("text.TextOps") {
      docs.filter(TextOps.qualityFlag(col("text"), minTokens = minTokens) === 1L).localCheckpoint()
    }
    val (deduped, pairs, removedDocs) = tr.span("dedup") {
      val sig = MinHashLSH.signatures(good, "doc_id", "text", 3, 16)
      val cand = MinHashLSH.candidatePairs(sig, "doc_id", 16, 4).localCheckpoint()
      val comp = Components.connectedComponents(good.select(col("doc_id")), "doc_id",
        cand.filter(col("est_jaccard") >= jaccard), "id_a", "id_b")
      val out = good.join(comp.filter(col("component") === col("doc_id")).select(col("doc_id")), "doc_id")
        .localCheckpoint()
      (out, cand.count(), good.count() - out.count())
    }
    val (cleaned, removedChars) = tr.span("text.SuffixArray") {
      val out = SuffixArray.removeDuplicatedSpans(deduped.select(col("doc_id"), col("text")),
          "doc_id", "text", minSpanChars)
        .join(deduped.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), regexp_replace(trim(col("clean_text")), " +", " ").as("text"),
          col("source"), col("n_removed"))
        .filter(length(col("text")) > 0)
        .localCheckpoint()
      (out, out.agg(sum(col("n_removed"))).head().getLong(0))
    }
    val (selected, keptToks) = tr.span("text.NgramLm") {
      val sel = NgramLm.importanceSelection(cleaned, "doc_id", "text", "source", "src0", budget)
        .filter(col("kept") === 1L).select(col("doc_id"), col("n_toks")).localCheckpoint()
      (sel, sel.agg(sum(col("n_toks"))).head().getLong(0))
    }
    val docsKept = cleaned.join(selected.select(col("doc_id")), "doc_id")
    tr.span("text.TextOps") {
      TextOps.chunk(docsKept, "doc_id", "text", chunkTokens, overlap)
        .repartition(shards).write.mode("overwrite").parquet(output)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    keptTexts = docsKept.select(col("text")).as[String].collect()
    last = Map(
      "dedup.candidate_pairs" -> pairs.toDouble,
      "dedup.pair_yield" -> (if (pairs == 0) 0.0 else removedDocs.toDouble / pairs),
      "text.SuffixArray.removed_chars" -> removedChars.toDouble,
      "text.NgramLm.kept_token_share" -> keptToks.toDouble / budget)
    keptTokens = keptToks
    sec
  }

  override def counters: Map[String, Double] = last
  def lastRows: Long = corpus.size.toLong

  def outBytesPerRow: Double = {
    val dir = new java.io.File(output)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble /
      spark.read.parquet(output).count()
  }

  def checks(): Seq[(String, Boolean)] = {
    val shardRows = spark.read.parquet(output)
    val outIds = shardRows.select(col("doc_id")).distinct().as[Long].collect().toSet
    val exactGroups = corpus.filter(_.group >= 0).groupBy(_.group).filter(_._2.size > 1)
    val survivorsOk = exactGroups.values.forall(g => g.count(d => outIds(d.doc_id)) <= 1)
    val step = chunkTokens - overlap
    val wantTokens = keptTexts.map { t =>
      val n = t.split(" ", -1).length
      (1 to n by step).map(s => math.min(chunkTokens, n - s + 1).toLong).sum
    }.sum
    val gotTokens = shardRows.agg(sum(col("n_tokens"))).head().getLong(0)
    Seq(
      "curation.exact_dup_single_survivor" -> survivorsOk,
      "curation.kept_tokens_within_budget" -> (keptTokens <= budget),
      "curation.shard_tokens_eq_kept_docs" -> (gotTokens == wantTokens),
      "curation.shards_cover_kept_docs" -> (outIds.size == keptTexts.length))
  }
}
