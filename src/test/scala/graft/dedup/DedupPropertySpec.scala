package graft.dedup

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: connected components vs an in-memory union-find on
  * random graphs; chunking reassembles to the original token stream;
  * dedupLatestAgg ≡ dedupLatest window under a total order.
  */
class DedupPropertySpec extends SparkSpec {

  private def forAllSamples[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(777L + i)).get)
    }

  import spark.implicits._

  /** Components with the `Components` switch's byte budget at `budget`. */
  private def ccWithin(vertices: org.apache.spark.sql.DataFrame, idCol: String,
                       pairs: org.apache.spark.sql.DataFrame, aCol: String, bCol: String,
                       maxIter: Int, budget: Long): org.apache.spark.sql.DataFrame =
    graft.operators.DriverBound.withBudget("Components" -> budget)(
      Components.connectedComponents(vertices, idCol, pairs, aCol, bCol, maxIter))

  test("Components property: equals union-find on random graphs") {
    val gen = for {
      n <- Gen.choose(2, 40)
      nEdges <- Gen.choose(0, 60)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L) if a != b
      } yield (a, b))
    } yield (n, edges)
    forAllSamples(gen) { case (n, edges) =>
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n.toInt).map(v => v.toLong -> find(v).toLong).toMap
      val vs = (0L until n).toDF("id")
      val es = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else edges.toDF("a", "b")
      // an unbounded budget takes the driver path, a negative one the
      // distributed contraction
      for ((bound, path) <- Seq((Long.MaxValue, "driver"), (-1L, "contraction"))) {
        val got = ccWithin(vs, "id", es, "a", "b",
          maxIter = 20, budget = bound)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"$path path diverged from union-find")
      }
    }
  }

  test("triangle sub-blocking property: every subBlocks value equals naive all-pairs") {
    // Random bucketed vectors (skewed: bucket 0 oversampled) — the
    // triangle decomposition must be invariant in S for BOTH users
    // (embedding near-dup and SimHash pairs).
    val gen = for {
      n <- Gen.choose(5, 60)
      seed <- Gen.choose(0, 1 << 20)
    } yield (n, seed)
    forAllSamples(gen, n = 5) { case (n, seed) =>
      val rows = (0L until n).map { i =>
        val bucket = if ((seed + i) % 3 != 0) 0 else 1 + ((i + seed) % 4).toInt
        val vec = Array.tabulate(6)(j => (((i * 13 + j * 7 + seed) % 19).toFloat - 9f) / 19f)
        (i, vec, bucket)
      }
      val df = rows.toDF("vec_id", "embedding", "bucket")
      def pairs(s: Int) = graft.similarity.Ann
        .nearDupPairs(df, "vec_id", "embedding", "bucket", 0.2, subBlocks = s)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val naive = pairs(1)
      Seq(2, 3, 8, 16).foreach(s => assert(pairs(s) === naive, s"subBlocks=$s diverged"))

      val fpRows = (0L until n).map { i =>
        val blk = if ((seed + i) % 3 != 0) "hot" else s"b${(i + seed) % 4}"
        (i, blk, (seed * 31 + i * 7919) % (1L << 28))
      }
      val fps = fpRows.toDF("doc_id", "blk", "simhash")
      def sp(s: Int) = SimHash.nearPairs(fps, "doc_id", "blk", maxDistance = 12, subBlocks = s)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val spNaive = sp(1)
      Seq(2, 8).foreach(s => assert(sp(s) === spNaive, s"SimHash subBlocks=$s diverged"))
    }
  }

  test("top_k_count property: equals a reference top-k on random data at any partitioning") {
    val gen = for {
      n <- Gen.choose(1, 300)
      groups <- Gen.choose(1, 5)
      domain <- Gen.choose(1, 20)
      parts <- Gen.oneOf(1, 3, 16)
      k <- Gen.choose(1, 6)
      seed <- Gen.choose(0, 1 << 20)
    } yield (n, groups, domain, parts, k, seed)
    forAllSamples(gen, n = 6) { case (n, groups, domain, parts, k, seed) =>
      val rows = (0 until n).map { i =>
        (s"g${(i * 31 + seed) % groups}", s"v${(i * i + seed) % domain}")
      }
      val got = rows.toDF("g", "v").repartition(parts)
        .groupBy($"g")
        .agg(graft.functions.TopKCount.column(spark, $"v", k).as("top"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getString(0), s.getLong(1))))
        .toMap
      val expected = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.groupBy(_._2).map { case (v, xs) => (v, xs.size.toLong) }
          .toSeq.sortBy { case (v, c) => (-c, v) }.take(k)
      }
      assert(got === expected, s"n=$n groups=$groups domain=$domain parts=$parts k=$k")
    }
  }

  test("largeSmallStar: deep chain resolves (the case that costs label propagation)") {
    val n = 200
    val chain = (0L until n - 1).map(i => (i, i + 1))
    for (bound <- Seq(Long.MaxValue, -1L)) {
      val got = ccWithin(
        (0L until n).toDF("id"), "id", chain.toDF("a", "b"), "a", "b",
        maxIter = 30, budget = bound)
        .collect().map(r => r.getLong(1)).distinct
      assert(got === Array(0L), s"one component rooted at 0 (driver bound $bound)")
    }
  }

  test("chunk property: stripping the overlap reassembles the token stream") {
    val word = Gen.choose('a', 'z').map(_.toString)
    val gen = for {
      nTok <- Gen.choose(1, 120)
      toks <- Gen.listOfN(nTok, word)
      chunkTokens <- Gen.choose(2, 20)
      overlap <- Gen.choose(0, 1).map(o => math.min(o * (chunkTokens - 1), chunkTokens - 1))
    } yield (toks, chunkTokens, overlap)
    forAllSamples(gen) { case (toks, chunkTokens, overlap) =>
      val text = toks.mkString(" ")
      val chunks = graft.text.TextOps
        .chunk(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", chunkTokens, overlap)
        .orderBy($"chunk_idx")
        .collect().map(r => (r.getString(2), r.getLong(3)))
      // every chunk's token count matches its text; overlap-stripped
      // concatenation equals the original token stream
      chunks.foreach { case (t, n) => assert(t.split(" ", -1).length === n) }
      val reassembled = chunks.zipWithIndex.flatMap { case ((t, _), i) =>
        val ts = t.split(" ", -1).toSeq
        if (i == 0) ts else ts.drop(overlap)
      }
      assert(reassembled === toks, s"chunk=$chunkTokens overlap=$overlap")
    }
  }

  test("dedupLatestAgg property: identical winners to the window under a total order") {
    import org.apache.spark.sql.functions._
    val gen = for {
      nKeys <- Gen.choose(1, 15)
      nRows <- Gen.choose(1, 80)
      rows <- Gen.listOfN(nRows, for {
        k <- Gen.choose(1, nKeys)
        item <- Gen.oneOf("A", "B")
        tsOff <- Gen.choose(0, 5) // deliberate timestamp collisions
        price <- Gen.choose(1, 9)
      } yield (k.toString, item, java.sql.Timestamp.valueOf(s"2025-07-0${1 + tsOff} 10:00:00"),
        price.toDouble))
    } yield rows
    forAllSamples(gen) { rows =>
      // unique (mods) column makes the order total even on ts+price ties
      val df = rows.zipWithIndex.map { case ((k, i, ts, p), idx) => (k, i, ts, p, s"m$idx") }
        .toDF("receipt_number", "item_name", "shifted_time", "price", "modifiers")
      val w = graft.pos.Analytics
        .dedupLatest(df, Seq(col("price").desc, col("modifiers").desc))
        .select("receipt_number", "item_name", "modifiers")
        .collect().map(_.toSeq).toSet
      val a = graft.pos.Analytics
        .dedupLatestAgg(df, Seq(col("price"), col("modifiers")))
        .select("receipt_number", "item_name", "modifiers")
        .collect().map(_.toSeq).toSet
      assert(a === w)
    }
  }
}
