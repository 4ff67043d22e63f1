package graft.dedup

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.similarity.Ann
import org.apache.spark.sql.functions._

/** Property checks for the scale-path dedup / similarity / multimodal
  * operators.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  /** Components with the `Components` switch's byte budget at `budget`. */
  private def ccWithin(vertices: org.apache.spark.sql.DataFrame, idCol: String,
                       pairs: org.apache.spark.sql.DataFrame, aCol: String, bCol: String,
                       maxIter: Int, budget: Long): org.apache.spark.sql.DataFrame =
    graft.operators.DriverBound.withBudget("Components" -> budget)(
      Components.connectedComponents(vertices, idCol, pairs, aCol, bCol, maxIter))

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend", "s0"), // near-dup of 0
    (2L, "completely different content about spark query engines and shuffles", "s0"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank", "s1")  // exact dup of 0
  ).toDF("doc_id", "text", "source")

  test("MinHash: identical docs → identical signatures; near-dups closer than unrelated") {
    val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i)).toSeq).toMap
    assert(sig(0L) === sig(3L)) // exact dup: same shingle set
    def est(a: Long, b: Long) =
      sig(a).zip(sig(b)).count { case (x, y) => x == y } / 16.0
    assert(est(0L, 1L) > est(0L, 2L))
    assert(est(0L, 1L) > 0.4) // 10/12 shared shingles
  }

  test("LSH candidates: dup pair surfaces with est_jaccard 1.0; thresholds hold") {
    val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, 16)
    val pairs = MinHashLSH.candidatePairs(sig, "doc_id", 16, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) === 1.0)
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup bucketed
  }

  test("LSH candidatePairs: leaves no cached RDDs; signature aggregation computed once via exchange reuse") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // Force shuffle joins (the at-scale shape; 4 local rows would
    // broadcast) so the signature aggregation's exchange is reusable.
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, 16)
      val pairs = MinHashLSH.candidatePairs(sig, "doc_id", 16, 4)
      assert(pairs.collect().length > 0)
      // The old sig.cache() pinned one signature table per call, forever.
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
      // And dropping the cache must not mean recomputing the shingle →
      // hash → min aggregation four times: the four identical subtrees
      // share one exchange.
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"signature exchange not reused:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  test("MinHash accuracy: signature estimate tracks true Jaccard within statistical error") {
    import org.apache.spark.sql.functions._
    // Build doc pairs with known overlap: base 40 tokens, variants
    // replacing k of them → true shingle Jaccard is computable.
    val base = (1 to 40).map(i => s"tok$i")
    def doc(replaced: Int): String =
      (base.dropRight(replaced) ++ (1 to replaced).map(i => s"alt$i")).mkString(" ")
    val docs = Seq(
      (0L, doc(0), "x"), (1L, doc(4), "x"), (2L, doc(12), "x"), (3L, doc(24), "x")
    ).toDF("doc_id", "text", "source")
    val n = 64
    val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, n).collect()
      .map(r => r.getLong(0) -> (1 to n).map(i => r.getLong(i)).toSeq).toMap
    def est(a: Long, b: Long) =
      sig(a).zip(sig(b)).count { case (x, y) => x == y }.toDouble / n
    def trueJaccard(a: String, b: String): Double = {
      def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    Seq(1L -> doc(4), 2L -> doc(12), 3L -> doc(24)).foreach { case (id, text) =>
      val t = trueJaccard(doc(0), text)
      val e = est(0L, id)
      // std error of a 64-hash estimate ≈ sqrt(t(1-t)/64) ≤ 0.063; 3σ bound
      assert(math.abs(e - t) < 0.19, s"doc $id: est $e vs true $t")
    }
    // Monotonicity: more replacement → lower estimate
    assert(est(0L, 1L) > est(0L, 2L) && est(0L, 2L) > est(0L, 3L))
  }

  test("SimHash: exact dup → distance 0; near-dup closer than unrelated") {
    val fp = SimHash.fingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(0L, 3L) === 0)
    assert(ham(0L, 1L) < ham(0L, 2L))
  }

  test("ANN: bruteTopK self-consistency and bucketed subset") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.95f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Ann.bruteTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .collect()
    // 1 closest (cos≈0.99); 2 and 3 both cos 0 → bid tiebreak picks 2
    assert(top.map(_.getAs[Long]("bid")).toSeq === Seq(1L, 2L))
    val bucketed = Ann.bucketedTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", 2).collect()
    assert(bucketed.map(_.getAs[Long]("bid")).toSeq === Seq(1L)) // only same-bucket
  }

  test("ANN: int8 quantization preserves top-1 neighbours on the sf0.001 corpus") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 5)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter($"rank" === 1).collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("bid")).toMap
    val exact = top1(Ann.bucketedTopK(emb, q, "vec_id", "embedding", "label", 1))
    val quant = top1(Ann.quantizedTopK(emb, q, "vec_id", "embedding", "label", 1))
    assert(exact.keySet === quant.keySet)
    val agree = exact.count { case (k, v) => quant(k) == v }
    assert(agree >= exact.size - 1, s"quantization flipped too many top-1s: $quant vs $exact")
  }

  test("ANN nearDupPairs: triangle sub-blocking equals all-pairs; hot-bucket work is spread") {
    // 200 vectors, HALF in one hot bucket — the skew that makes the
    // naive bucket self-join a single-reducer quadratic straggler.
    val n = 200
    val dim = 8
    val rows = (0L until n).map { i =>
      val bucket = if (i % 2 == 0) 0 else 1 + (i % 5).toInt
      val vec = Array.tabulate(dim)(j => (((i * 31 + j * 7) % 97).toFloat - 20f) / 97f)
      (i, vec, bucket)
    }
    val df = rows.toDF("vec_id", "embedding", "bucket")
    def collectPairs(sub: Int) =
      Ann.nearDupPairs(df, "vec_id", "embedding", "bucket", 0.3, subBlocks = sub)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val blocked = collectPairs(8)
    val naive = collectPairs(1) // subBlocks=1 IS the naive all-pairs shape
    assert(blocked === naive, "sub-blocking changed the result set")
    assert(blocked.nonEmpty)
    assert(blocked.forall { case (a, b, c) => a < b && c >= 0.3 })
    // Work-spread evidence: the hot bucket's largest single join key
    // holds at most maxBlock² pair computations vs B²/2 on one key
    // naively (the gate e4b proves the same at sf scale via its oracle).
    val hot = df.filter($"bucket" === 0)
      .select(pmod(xxhash64($"vec_id"), lit(8L)).cast("int").as("blk"))
      .groupBy("blk").count().collect().map(_.getLong(1))
    assert(hot.length === 8, "ids should spread over all 8 sub-blocks")
    val hotB = hot.sum
    val maxKeyWork = hot.max * hot.max
    assert(maxKeyWork * 10 < hotB * (hotB - 1) / 2,
      s"max per-key work $maxKeyWork not a meaningful spread of ${hotB * (hotB - 1) / 2}")
  }

  test("kmeansIterate: recovers separable clusters from a 75%-correct init; stable at convergence") {
    val rows = (0L until 40L).map { i =>
      val truth = (i % 2).toInt
      val base = if (truth == 0) Array(1.0f, 0.05f) else Array(0.05f, 1.0f)
      val vec = base.zipWithIndex.map { case (b, j) => b + 0.01f * ((i + j) % 3) }
      // every 4th vector starts in the WRONG list
      val init = if (i % 4 == 3) 1 - truth else truth
      (i, vec, init)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    def assignments(iters: Int) =
      Ann.kmeansIterate(df, "vec_id", "embedding", "label", iters)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = assignments(2)
    rows.foreach { case (i, _, _) =>
      assert(got(i) === (i % 2).toInt, s"vector $i not recovered to its true cluster")
    }
    // converged: a third iteration changes nothing
    assert(assignments(3) === got)
  }

  test("ANN: centroids + assign round-trip") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.8f, 0.2f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cents = Ann.centroids(vecs, "label", "embedding")
    assert(cents.count() === 2)
    val assigned = Ann.assign(vecs, cents, "vec_id", "embedding", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    assert(assigned === Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("Multimodal: PNG payloads decode to predicted headers and exact pixel stats") {
    val media = Multimodal.fromDocuments(docs.select($"doc_id", $"text", $"source"))
    assert(media.schema.fieldNames.toSeq ===
      Seq("asset_id", "media_type", "content", "meta"))
    val decoded = Multimodal.decodeImages(media)
    assert(!decoded.columns.contains("content"))
    decoded.collect().foreach { r =>
      val id = r.getAs[Long]("asset_id")
      assert(r.getAs[Int]("width") === (8 + id % 24).toInt)
      assert(r.getAs[Int]("height") === (8 + (id * 3) % 24).toInt)
      assert(r.getAs[Int]("channels") === 1)
    }
    val stats = Multimodal.pixelStats(media).collect()
    stats.foreach { r =>
      val id = r.getAs[Long]("asset_id")
      val w = (8 + id % 24).toInt; val h = (8 + (id * 3) % 24).toInt
      val expected = (for (y <- 0 until h; x <- 0 until w) yield (x + y + id) % 256).sum
      assert(r.getAs[Long]("pixel_sum") === expected)
    }
  }

  test("Components: chains merge transitively; singletons keep own id; min label wins") {
    val vertices = (0L to 7L).toDF("id")
    // 0-1-2-3 is a chain (diameter 3, needs >1 propagation round);
    // 5-6 a pair; 4 and 7 singletons.
    val pairs = Seq((1L, 0L), (1L, 2L), (3L, 2L), (5L, 6L)).toDF("a", "b")
    val got = Components.connectedComponents(vertices, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("Components: non-convergence fails loudly instead of returning wrong labels") {
    // A 6-deep chain cannot reach the contraction's fixpoint in one
    // round; unconverged labels would be split component ids. The loud
    // error lives on the DISTRIBUTED path — force it with a negative
    // byte budget (the driver union-find path always converges, by
    // construction).
    val vertices = (0L to 6L).toDF("id")
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      ccWithin(vertices, "id", chain, "a", "b",
        maxIter = 1, budget = -1L)
    }
    assert(ex.getMessage.contains("fixpoint"))
    // And the same graph converges fine with the default budget.
    val ok = Components.connectedComponents(vertices, "id", chain, "a", "b")
      .collect().map(r => r.getLong(1)).distinct
    assert(ok.toSeq === Seq(0L))
  }

  test("Components: the contraction frees superseded rounds and keeps fresh size estimates") {
    // One vertex set, two edge lists: a 4-vertex path (few rounds) and
    // a path through all 512 vertices in shuffled order (at least six
    // rounds). Neither the blocks kept alive after the call nor the
    // result's size estimate may grow with the number of rounds.
    val n = 512
    val vertices = (0L until n.toLong).toDF("id")
    val order = new scala.util.Random(7).shuffle((0L until n.toLong).toList)
    val longPath = order.zip(order.tail)
    val shortPath = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    intercept[IllegalStateException] {
      ccWithin(vertices, "id", longPath.toDF("a", "b"),
        "a", "b", maxIter = 5, budget = -1L)
    }
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0L until n.toLong).map(v => v -> find(v)).toMap
    }
    def run(edges: Seq[(Long, Long)]) = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val df = ccWithin(vertices, "id", edges.toDF("a", "b"),
        "a", "b", maxIter = 20, budget = -1L)
      val alive = (sc.getPersistentRDDs.keySet -- before).size
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val labels = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === unionFind(edges))
      (alive, size)
    }
    val (shortAlive, shortSize) = run(shortPath)
    val (longAlive, longSize) = run(longPath)
    assert(longAlive <= shortAlive && shortAlive <= 1,
      s"persisted RDDs left by the call: $shortAlive (short path), $longAlive (long path)")
    assert(longSize === shortSize, "the size estimate grew with the rounds")
  }

  test("Components: driver union-find path equals the distributed paths exactly") {
    val vertices = (0L to 9L).toDF("id")
    val pairs = Seq((1L, 0L), (1L, 2L), (3L, 2L), (5L, 6L), (8L, 7L), (9L, 7L))
      .toDF("a", "b")
    val driver = Components.connectedComponents(vertices, "id", pairs, "a", "b")
    val dist = ccWithin(vertices, "id", pairs, "a", "b",
      maxIter = 20, budget = -1L)
    // same schema on both paths: the id column keeps its type, component is long
    assert(driver.schema === dist.schema)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(driver) === labels(dist), "driver path diverged from the contraction")
  }

  test("Components: the driver bound switches paths exactly at the edge count") {
    // Int ids: the output keeps the input id type on both paths.
    val vertices = (0 to 11).toDF("id")
    val pairs = Seq((1, 0), (1, 2), (3, 2), (4, 3), (6, 5), (9, 8), (10, 9), (11, 8))
      .toDF("a", "b")
    // the byte budget that holds exactly the edge list
    val at = pairs.count() * Components.edgeBytes
    def run(bound: Long) = {
      val df = ccWithin(vertices, "id", pairs, "a", "b",
        maxIter = 20, budget = bound)
      // only the contraction reads checkpointed rounds
      val contracted = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.nonEmpty
      (df.schema, df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap, contracted)
    }
    val (atSchema, atBound, atContracted) = run(at)
    val (overSchema, overBound, overContracted) = run(at - 1)
    assert(!atContracted && overContracted,
      "a budget at the edges' bytes must take the driver path, one byte less the contraction")
    assert(atBound === overBound)
    assert(atSchema === overSchema)
    assert(atSchema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(atBound === Map(0 -> 0L, 1 -> 0L, 2 -> 0L, 3 -> 0L, 4 -> 0L, 5 -> 5L, 6 -> 5L,
      7 -> 7L, 8 -> 8L, 9 -> 8L, 10 -> 8L, 11 -> 8L))
  }

  test("TextOps.chunk: windows, overlap carry, and tail sizes") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "solo")
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.chunk(docs, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // stride 3: starts 1,4,7,10
    assert(got === Set(
      (1L, 0L, "w1 w2 w3 w4", 4L),
      (1L, 1L, "w4 w5 w6 w7", 4L),
      (1L, 2L, "w7 w8 w9 w10", 4L),
      (1L, 3L, "w10", 1L),
      (2L, 0L, "solo", 1L)))
  }

  test("FuzzyLinkage: word-blocked pairs equal brute force; cross-word edits found") {
    val parts = Seq(
      (1L, "B1", "ivory azure rose"),
      (2L, "B1", "ivory azure rosy"),   // 1 edit, last word
      (3L, "B1", "ivary azure rosy"),   // edits in TWO different words vs 1
      (4L, "B1", "navy green plum"),    // unrelated
      (5L, "B2", "ivory azure rose"),   // other block: never paired
      (6L, "B1", "ivory azure")         // shorter, within 2 edits of nothing here
    ).toDF("id", "brand", "name")
    val got = FuzzyLinkage.wordBlockedPairs(parts, "id", "brand", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force within block
    val rows = parts.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val expected = (for {
      (ia, ba, na) <- rows; (ib, bb, nb) <- rows
      if ba == bb && ia < ib && lev(na, nb) <= 2
    } yield (ia, ib) -> lev(na, nb).toLong).toMap
    assert(got === expected)
    assert(got.contains((1L, 3L)), "pair with edits in two different words must survive blocking")
  }

  test("d1 gate plan has no cartesian product — name pairs ride the blocked generator") {
    val df = graft.SparkEntry.queries("d1_fuzzy_name_pairs")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE plan
    val physical = df.queryExecution.executedPlan.toString()
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"d1 plan still contains a cross join:\n${physical.take(2000)}")
  }

  test("InferenceKernel: real MLP forward matches a hand-computed reference; batch size never changes results") {
    import graft.multimodal.{IntMlpKernel, StubKernel}
    val media = Multimodal.fromDocuments(docs.select($"doc_id", $"text", $"source"))
    def run(bs: Int) =
      Multimodal.inferLogits(media, IntMlpKernel, batchSize = bs)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // Batch-boundary behavior: per-row, odd tail, one giant batch —
    // identical logits (the kernel must not leak state across batches).
    val perRow = run(1)
    assert(perRow === run(3) && perRow === run(1000))
    assert(perRow.length === docs.count() * IntMlpKernel.outDim)
    // Independent reference: replay the forward pass in plain Scala
    // from the closed-form pixel function for asset 0.
    val (w, h) = (8, 8) // doc_id 0
    val x = new Array[Long](IntMlpKernel.inDim)
    for (y <- 0 until h; xx <- 0 until w) x((y * w + xx) % IntMlpKernel.inDim) += (xx + y) % 256
    // weight formulas restated independently of the kernel source
    def w1(k: Int, j: Int): Long = (k * 31 + j * 17) % 13 - 6
    def w2(o: Int, k: Int): Long = (o * 7 + k * 5) % 11 - 5
    val a = (0 until IntMlpKernel.hidden).map(k =>
      math.max((0 until IntMlpKernel.inDim).map(j => w1(k, j) * x(j)).sum, 0L))
    val expected = (0 until IntMlpKernel.outDim).map(o =>
      (0 until IntMlpKernel.hidden).map(k => w2(o, k) * a(k)).sum)
    assert(perRow.filter(_._1 == 0L).map(_._3) === expected)
    // A corrupt payload yields one sentinel row, not a dead batch.
    val corrupt = Multimodal.fromText(docs.select($"doc_id", $"text", $"source"))
    val sentinel = Multimodal.inferLogits(corrupt, IntMlpKernel).collect()
    assert(sentinel.forall(r => r.getInt(1) === -1 && r.getLong(2) === -1L))
    // The stub double still honors the same contract shape.
    val stubbed = Multimodal.inferLogits(corrupt, StubKernel).collect()
    assert(stubbed.length === docs.count() * StubKernel.outDim)
  }

  test("Multimodal test doubles: features have fixed dim; frames sample by stride") {
    val media = Multimodal.fromText(docs.select($"doc_id", $"text", $"source"))
    val feats = graft.multimodal.TestDoubles.extractFeatures(media, dim = 8, batchSize = 2).collect()
    assert(feats.forall(_.getAs[Seq[Float]]("features").length === 8))
    val frames = graft.multimodal.TestDoubles.sampleFrames(media, stride = 16)
    assert(frames.filter($"asset_id" === 0).count() ===
      (docs.collect().head.getAs[String]("text").length + 15) / 16)
  }
}
