package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Ann.hnswRanks]] / [[Ann.layerSize]] / [[Ann.hnswSearch]] — the
  * hierarchical (HNSW-family) ANN tier behind gate `e22_hnsw_search`:
  * the nested layer ladder's contract (determinism, partitioning
  * invariance, occupancy floor, the analytic md5 replay), per-query
  * entry seeding ≡ the global-entry mode on identical starts, layer
  * descent reaching a far neighbourhood on the chain fixture, and the
  * sf0.1 end-to-end recall floor the gate's `hit` column prices in.
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private def chain(n: Int) = {
    (0 until n).map { i =>
      val th = math.toRadians(10.0 * i)
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def chainEdges(n: Int) =
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("qid", "bid")

  test("hnswRanks replays the salted-md5 order and is partitioning-invariant") {
    val corpus = chain(40)
    val got = Ann.hnswRanks(corpus, "vec_id")
      .orderBy($"hrank").as[(Long, Long)].collect().toSeq
    // analytic replay: first 7 hex chars of md5("hnsw:<id>") as a long,
    // rank by (hash, id)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = {
      val hex = md.digest(s"hnsw:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(7)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = (0L until 40L).sortBy(id => (h(id), id)).zipWithIndex
      .map { case (id, i) => (id, i + 1L) }
    assert(got == want)
    val re = Ann.hnswRanks(corpus.repartition(7), "vec_id")
      .orderBy($"hrank").as[(Long, Long)].collect().toSeq
    assert(re == want, "rank changed under repartitioning")
  }

  test("layerSize: geometric decay with a 2-member occupancy floor") {
    assert(Ann.layerSize(2000, 1) == 250L)
    assert(Ann.layerSize(2000, 2) == 32L)
    assert(Ann.layerSize(2000, 3) == 4L)
    assert(Ann.layerSize(20, 2) == 2L, "floor must keep tiny layers servable")
    assert(Ann.layerSize(20, 3) == 2L)
    // nesting: layer sizes are monotone, so rank-prefix membership nests
    (1 to 5).sliding(2).foreach { w =>
      assert(Ann.layerSize(100000, w(0)) >= Ann.layerSize(100000, w(1)))
    }
  }

  test("entryPairs seeding equals the global-entry mode on identical starts") {
    val n = 24
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" < 3L)
    val g = chainEdges(n)
    val entries = Seq(23L, 11L).toDF("bid")
    val global = Ann.beamSearchKnn(g, corpus, queries, "vec_id", "embedding",
      entries, beamWidth = 4, hops = 6, k = 3)
      .orderBy($"qid", $"rank").collect().toSeq
    val pairs = queries.select($"vec_id".as("qid")).crossJoin(entries)
    val perQuery = Ann.beamSearchKnn(g, corpus, queries, "vec_id", "embedding",
      entries = null, beamWidth = 4, hops = 6, k = 3, entryPairs = pairs)
      .orderBy($"qid", $"rank").collect().toSeq
    assert(perQuery == global)
  }

  test("single-layer hnswSearch is exactly the flat beam search") {
    val n = 20
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 19L)
    val entries = Seq(0L).toDF("bid")
    val sym = Ann.symmetrize(chainEdges(n))
    val flat = Ann.beamSearchKnn(sym, corpus, queries, "vec_id", "embedding",
      entries, beamWidth = 4, hops = n, k = 3, presymmetrized = true)
      .orderBy($"rank").collect().toSeq
    val layered = Ann.hnswSearch(Seq(sym), corpus, queries, "vec_id", "embedding",
      entries, beamUpper = 2, hopsUpper = 2, beamWidth = 4, hops = n, k = 3)
      .orderBy($"rank").collect().toSeq
    assert(layered == flat)
  }

  test("layer descent hands a far query's walk the right neighbourhood") {
    // Two layers over the chain: the upper layer is every 4th node with
    // edges between CONSECUTIVE members (stride-4 express lanes), the
    // base layer the full chain. From a single entry at node 0, a
    // 2-hop-per-layer descent alone cannot cross 19 base edges — the
    // upper layer must carry the walk into query 19's neighbourhood.
    val n = 20
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 19L)
    val upperIds = (0 until n by 4).map(_.toLong)                   // 0,4,8,12,16
    val upper = upperIds.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("qid", "bid")
    val out = Ann.hnswSearch(
      Seq(Ann.symmetrize(upper), Ann.symmetrize(chainEdges(n))),
      corpus, queries, "vec_id", "embedding",
      topEntries = Seq(0L).toDF("bid"),
      beamUpper = 2, hopsUpper = 4, beamWidth = 4, hops = 2, k = 3)
      .orderBy($"rank").collect()
    // upper walk reaches 16; 2 base hops from {16} reach 18 — the top-3
    // of the final beam are the exact neighbours 18, 17, 16
    assert(out.map(_.getAs[Long]("bid")).toSeq == Seq(18L, 17L, 16L))
  }

  test("descent without the upper layer strands the same walk") {
    // The negative control for the express-lane case: identical base
    // walk budget (2 hops), no upper layer — the beam stays near the
    // entry end of the chain and misses the exact neighbourhood.
    val n = 20
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 19L)
    val out = Ann.hnswSearch(
      Seq(Ann.symmetrize(chainEdges(n))),
      corpus, queries, "vec_id", "embedding",
      topEntries = Seq(0L).toDF("bid"),
      beamUpper = 2, hopsUpper = 4, beamWidth = 4, hops = 2, k = 3)
      .orderBy($"rank").collect()
    assert(!out.map(_.getAs[Long]("bid")).contains(18L),
      "2 base hops from node 0 must not reach node 19's neighbourhood")
  }

  test("deterministic under repartitioning (full two-layer search)") {
    val n = 24
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" < 3L)
    val upper = (0 until n by 4).map(_.toLong).sliding(2)
      .map(p => (p(0), p(1))).toSeq.toDF("qid", "bid")
    def run(c: org.apache.spark.sql.DataFrame) =
      Ann.hnswSearch(
        Seq(Ann.symmetrize(upper), Ann.symmetrize(chainEdges(n))),
        c, queries, "vec_id", "embedding",
        topEntries = Seq(20L).toDF("bid"),
        beamUpper = 2, hopsUpper = 2, beamWidth = 4, hops = 4, k = 3)
        .orderBy($"qid", $"rank").collect().toSeq
    assert(run(corpus) == run(corpus.repartition(7)))
  }

  test("selectDiverse keeps opposite-side neighbours, drops dominated ones") {
    // q at 0°; candidates: +10° (kept — nearest), −10° (kept — closer
    // to q than to the +10° neighbour), +15° (dropped — closer to the
    // kept +10° than to q), an exact clone of +10° (dropped — distance
    // 0 to a kept neighbour). Hand-checked: cos20°=0.9397 < cos10°=
    // 0.9848 keeps −10°; cos5°=0.9962 > cos15°=0.9659 drops +15°.
    def v(deg: Double) = {
      val th = math.toRadians(deg)
      Seq(math.cos(th).toFloat, math.sin(th).toFloat)
    }
    def c(rank: Long, bid: Long, deg: Double) =
      (7L, rank, bid, BigDecimal(math.cos(math.toRadians(deg)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, v(deg))
    val cands = Seq(
      c(1L, 101L, 10.0), c(2L, 102L, -10.0), c(3L, 103L, 15.0),
      c(4L, 104L, 10.0))
      .toDF("qid", "rank", "bid", "cosine", "bv")
    val kept = Ann.selectDiverse(cands, keep = 8)
      .orderBy($"rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("bid"))).toSeq
    assert(kept == Seq((1L, 101L), (2L, 102L)))
    // the keep cap stops the walk early
    val one = Ann.selectDiverse(cands, keep = 1)
      .collect().map(_.getAs[Long]("bid")).toSeq
    assert(one == Seq(101L))
  }

  test("knnGraphDiverse escapes near-clone cliques a top-k graph locks into") {
    // 4 clusters at 0°/90°/180°/270°, each 6 members jittered +0.3°
    // steps. A plain top-5 graph spends node 0's every edge inside its
    // cluster; the diversified build keeps the nearest mate and a
    // cross-cluster edge. Hand-checked: node 0's kept set is exactly
    // {bid 1 (0.3°), bid 35 (271.5° — cos(b35,q)=0.026177 beats
    // cos(b35,b1)=0.020942, the only candidate not dominated)}.
    val corpus = (for {
      p <- 0 until 4
      cl <- 0 until 6
    } yield {
      val th = math.toRadians(90.0 * p + 0.3 * cl)
      ((p * 10 + cl).toLong, (p % 2).toLong,
        Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    }).toDF("vec_id", "label", "embedding")
    val plain = Ann.knnGraph(corpus, "vec_id", "embedding", "label",
      k = 5, nprobe = 2)
    val plainDst = plain.filter($"qid" === 0L).collect()
      .map(_.getAs[Long]("bid")).toSet
    assert(plainDst == Set(1L, 2L, 3L, 4L, 5L),
      s"plain top-5 should be the cluster mates: $plainDst")
    val div = Ann.knnGraphDiverse(corpus, "vec_id", "embedding", "label",
      kCand = 23, keep = 5, nprobe = 2)
    val divDst = div.filter($"qid" === 0L).orderBy($"rank").collect()
      .map(_.getAs[Long]("bid")).toSeq
    assert(divDst == Seq(1L, 35L),
      s"expected the nearest mate + the one undominated cross-cluster edge: $divDst")
  }

  test("knnGraphDiverse finishes on a corpus holding an all-zero vector") {
    // A zero vector's cosine is 0/0 = NaN, in Spark's round(cosine, 6)
    // and in the selection fold alike; the fold must carry the NaN (a
    // NaN never beats a kept neighbour) instead of failing to round it.
    val corpus = ((0 until 8).map { i =>
      val th = math.toRadians(20.0 * i)
      (i.toLong, 0L, Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    } :+ ((99L, 0L, Seq(0f, 0f)))).toDF("vec_id", "label", "embedding")
    val div = Ann.knnGraphDiverse(corpus, "vec_id", "embedding", "label",
      kCand = 8, keep = 3, nprobe = 1).collect()
    val byNode = div.groupBy(_.getAs[Long]("qid"))
    assert(byNode.keySet == (0L until 8L).toSet + 99L, "every node keeps a neighbour")
    // the zero vector scores NaN against everything: it keeps one edge
    assert(byNode(99L).length == 1 && byNode(99L).forall(r => r.getAs[Double]("cosine").isNaN))
  }

  test("EXACT clones cap the diverse degree at 1 — the representative layer's reason") {
    // With exact duplicates, the first kept clone sits AT the query's
    // position, so every other candidate ties (cos to the kept clone =
    // cos to the query) and is dominated — select-neighbors cannot fix
    // exact duplication; dedup-to-representatives before indexing can.
    val corpus = (for {
      p <- 0 until 3
      cl <- 0 until 4
    } yield {
      val th = math.toRadians(30.0 * p)
      ((p * 10 + cl).toLong, 0L,
        Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    }).toDF("vec_id", "label", "embedding")
    val div = Ann.knnGraphDiverse(corpus, "vec_id", "embedding", "label",
      kCand = 11, keep = 5, nprobe = 1)
    val divDst = div.filter($"qid" === 0L).collect()
      .map(_.getAs[Long]("bid")).toSeq
    assert(divDst == Seq(1L), s"exact clones should cap degree at 1: $divDst")
  }

  test("clone expansion reproduces the full-corpus brute top-k exactly") {
    // 5 positions × 4 exact clones. Rep walk (self-exclusion OFF) over
    // the deduped graph + expansion must equal bruteTopK over the FULL
    // corpus for every query — including a query that IS a
    // representative (its own clones must come back) and one that is
    // not (its rep must come back).
    val corpus = (for {
      p <- 0 until 5
      cl <- 0 until 4
    } yield {
      val th = math.toRadians(15.0 * p)
      ((p * 10 + cl).toLong, (p % 2).toLong,
        Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    }).toDF("vec_id", "label", "embedding")
    val repMap = Ann.representatives(corpus, "vec_id", "embedding")
    val reps = corpus.join(
      repMap.where($"vec_id" === $"rep").select($"vec_id"), "vec_id")
    assert(reps.count() == 5L)
    val edges0 = Ann.symmetrize(
      Ann.knnGraph(reps, "vec_id", "embedding", "label", k = 4, nprobe = 2))
    val panel = corpus.filter($"vec_id".isin(0L, 21L))   // a rep and a clone
      .select($"vec_id", $"embedding")
    val walk = Ann.beamSearchKnn(
      edges0, reps.select($"vec_id", $"embedding"), panel,
      "vec_id", "embedding", entries = Seq(40L).toDF("bid"),
      beamWidth = 8, hops = 5, k = 8,
      presymmetrized = true, excludeSelf = false)
    val got = Ann.expandClones(walk, repMap, "vec_id", k = 6)
      .orderBy($"qid", $"rank")
      .select($"qid", $"bid", $"cosine").collect().toSeq
    val want = Ann.bruteTopK(corpus.select($"vec_id", $"embedding"), panel,
      "vec_id", "embedding", k = 6)
      .orderBy($"qid", $"rank")
      .select($"qid", $"bid", $"cosine").collect().toSeq
    assert(got == want)
  }

  test("sf0.1 recall floor: rep-layered top-5 hits >= 90% of the exact top-5") {
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
    val repMap = Ann.representatives(emb, "vec_id", "embedding")
    val reps = emb.join(
      repMap.where($"vec_id" === $"rep").select($"vec_id"), "vec_id")
    val n = reps.count()
    val ranks = Ann.hnswRanks(reps, "vec_id")
    val ranked = reps.join(ranks, "vec_id")
    val uppers = (3 to 1 by -1).map { lyr =>
      val members = ranked.filter($"hrank" <= Ann.layerSize(n, lyr))
        .select($"vec_id", $"label", $"embedding")
      graft.operators.Checkpoints.eager(Ann.symmetrize(
        Ann.knnGraph(members, "vec_id", "embedding", "label", k = 8, nprobe = 4)))._1
    }
    val edges0 = Ann.symmetrize(
      Ann.knnGraph(reps, "vec_id", "embedding", "label", k = 16, nprobe = 4))
    val corpus = emb.select($"vec_id", $"embedding")
    val panel = corpus.filter($"vec_id" < 10)
    val walk = Ann.hnswSearch(
      uppers :+ edges0, reps.select($"vec_id", $"embedding"), panel,
      "vec_id", "embedding",
      topEntries = ranks.filter($"hrank" <= 2).select($"vec_id".as("bid")),
      beamUpper = 16, hopsUpper = 4, beamWidth = 16, hops = 5, k = 16,
      excludeSelf = false)
    val beam = Ann.expandClones(walk, repMap, "vec_id", k = 5)
    val exact = Ann.bruteTopK(corpus, panel, "vec_id", "embedding", k = 5)
    val hits = beam.join(exact.select($"qid", $"bid"), Seq("qid", "bid"), "left_semi")
      .count()
    assert(hits >= 45L, s"recall@5 degraded: $hits/50 exact neighbours found")
  }
}
