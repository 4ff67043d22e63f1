package graft.similarity

import graft.SparkSpec
import graft.operators.DriverBound
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** [[Ann.beamSearchKnn]] — graph-based ANN serving (HNSW layer-0
  * search over the symmetrized kNN graph): navigation correctness on a
  * hand-built chain graph, the symmetrization contract (a directed
  * edge is walkable both ways), determinism under repartitioning, and
  * the sf0.1 recall floor the e21 gate's `hit` column measures.
  */
class BeamSearchSpec extends SparkSpec {
  import spark.implicits._

  // A 1-D chain: vector i = (cos θᵢ, sin θᵢ) with θᵢ = i·10°, so
  // cosine similarity decays monotonically with |i − j| and the exact
  // nearest neighbours of i are i±1, i±2, … — a graph walk from one
  // end must traverse the chain to reach a far query's neighbourhood.
  private def chain(n: Int) = {
    (0 until n).map { i =>
      val th = math.toRadians(10.0 * i)
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
  }

  // Directed chain edges i → i+1 only; symmetrization must make the
  // walk possible in both directions.
  private def chainEdges(n: Int) =
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("qid", "bid")

  test("beam search walks the chain to the exact neighbourhood") {
    val n = 20
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 19L)
    val out = Ann.beamSearchKnn(
      chainEdges(n), corpus, queries, "vec_id", "embedding",
      entries = Seq(0L).toDF("bid"),
      beamWidth = 4, hops = n, k = 3)
      .orderBy($"rank").collect()
    // query 19's exact top-3 are 18, 17, 16
    assert(out.map(_.getAs[Long]("bid")).toSeq == Seq(18L, 17L, 16L))
  }

  test("symmetrized edges walk a forward-only chain backwards") {
    val n = 12
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 0L)
    // entry at the FAR end: only the REVERSED edges lead back to 0's
    // neighbourhood (directed edges all point away from it)
    val out = Ann.beamSearchKnn(
      chainEdges(n), corpus, queries, "vec_id", "embedding",
      entries = Seq((n - 1).toLong).toDF("bid"),
      beamWidth = 4, hops = n, k = 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("bid")).toSeq == Seq(1L, 2L, 3L))
  }

  test("hops bound the walk: zero hops returns the re-ranked entries") {
    val n = 10
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" === 9L)
    val out = Ann.beamSearchKnn(
      chainEdges(n), corpus, queries, "vec_id", "embedding",
      entries = Seq(0L, 5L).toDF("bid"),
      beamWidth = 4, hops = 0, k = 2)
      .orderBy($"rank").collect()
    // no expansion: just the two entries ranked by cosine to query 9
    assert(out.map(_.getAs[Long]("bid")).toSeq == Seq(5L, 0L))
  }

  test("deterministic under repartitioning") {
    val corpus = chain(24)
    val queries = corpus.where($"vec_id" < 3L)
    def run(c: org.apache.spark.sql.DataFrame, g: org.apache.spark.sql.DataFrame) =
      Ann.beamSearchKnn(g, c, queries, "vec_id", "embedding",
        entries = Seq(23L, 11L).toDF("bid"),
        beamWidth = 4, hops = 6, k = 3)
        .orderBy($"qid", $"rank").collect().toSeq
    val a = run(corpus, chainEdges(24))
    val b = run(corpus.repartition(7), chainEdges(24).repartition(5))
    assert(a == b)
  }

  test("presymmetrized serving over Ann.symmetrize equals the in-query symmetrization") {
    // the e21b build/serve split: symmetrize-at-build + presymmetrized
    // walk must be bit-identical to the default in-query union+distinct
    val n = 24
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" < 3L)
    val g = chainEdges(n)
    def run(edges: org.apache.spark.sql.DataFrame, presym: Boolean) =
      Ann.beamSearchKnn(edges, corpus, queries, "vec_id", "embedding",
        entries = Seq(23L, 11L).toDF("bid"),
        beamWidth = 4, hops = 6, k = 3, presymmetrized = presym)
        .orderBy($"qid", $"rank").collect().toSeq
    assert(run(Ann.symmetrize(g), presym = true) == run(g, presym = false))
    // symmetrize is itself symmetric and deduplicated
    val sym = Ann.symmetrize(g).as[(Long, Long)].collect().toSet
    assert(sym == sym.map(_.swap), "symmetrize output is not symmetric")
    assert(Ann.symmetrize(g).count() == sym.size.toLong, "duplicate edges survived")
  }

  /** `body` with the walk's byte budget at `budget`. */
  private def within[T](budget: Long)(body: => T): T =
    DriverBound.withBudget("Ann.beamSearchKnn" -> budget)(body)

  test("driver-frontier walk equals the distributed fallback (both seeding modes)") {
    // the size guard: a shard over the driver budget routes to the
    // distributed per-hop loop — force each path on the
    // SAME inputs and require identical output, entries and entryPairs
    // modes, excludeSelf both ways, dangling edges included
    val n = 24
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" < 4L)
    // dangling edge: 23 → 99 has no corpus vector; the old inner join
    // dropped it, both paths must keep dropping it (not throw)
    val g = chainEdges(n).unionByName(Seq((23L, 99L)).toDF("qid", "bid"))
    val pairs = Seq((0L, 23L), (1L, 11L), (2L, 23L), (2L, 11L),
      (7777L, 3L)).toDF("qid", "bid") // 7777 has no query vector: dropped
    def run(excl: Boolean, perQuery: Boolean, budget: Long) = within(budget) {
      Ann.beamSearchKnn(g, corpus, queries, "vec_id", "embedding",
        entries = if (perQuery) null else Seq(23L, 11L).toDF("bid"),
        beamWidth = 4, hops = 6, k = 3, presymmetrized = false,
        entryPairs = if (perQuery) pairs else null, excludeSelf = excl)
    }.orderBy($"qid", $"rank").collect().toSeq
    for (excl <- Seq(true, false); perQuery <- Seq(true, false)) {
      val memShard = run(excl, perQuery, Long.MaxValue)
      // the distributed loop (the shard over the driver budget)
      val dist = run(excl, perQuery, -1L)
      assert(memShard == dist, s"mem vs distributed: excl=$excl perQuery=$perQuery")
    }
  }

  test("walk switch at the byte bound: at it, one row over, empty and all-null vectors") {
    val n = 24
    val corpus = chain(n)
    val queries = corpus.where($"vec_id" < 4L)
    val g = chainEdges(n)
    def walk(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame,
             budget: Long) = {
      val df = within(budget)(Ann.beamSearchKnn(g, c, q, "vec_id", "embedding",
        entries = Seq(23L, 11L).toDF("bid"), beamWidth = 4, hops = 6, k = 3))
      // the in-memory walk's rows are a local relation (under the id casts)
      val onDriver = df.queryExecution.analyzed.collectFirst { case _: LocalRelation => true }
        .isDefined
      (df.orderBy($"qid", $"rank").collect().toSeq, onDriver)
    }
    // the charge: queries and corpus at their rows' bytes plus 2-dim
    // vectors, edges at their rows' bytes plus both directions held
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      DriverBound.rowBytes(df.select($"vec_id".cast("long"), $"embedding").schema)
    val vec = 2L * Ann.VectorElemBytes
    val edgeRow = DriverBound.rowBytes(g.select($"qid".cast("long"), $"bid".cast("long")).schema)
    val at = 4L * (rowsOf(queries) + vec) + n * (rowsOf(corpus) + vec) +
      (n - 1L) * (edgeRow + 2L * Ann.AdjacencyEntryBytes)
    val (atRows, atDriver) = walk(queries, corpus, at)
    val (overRows, overDriver) = walk(queries, corpus, at - 1L)
    assert(atDriver, "a budget at the shard's bytes must walk in memory")
    assert(!overDriver, "one edge row over the budget must walk distributed")
    assert(atRows.nonEmpty && atRows == overRows)
    // an empty query batch retrieves nothing on either path
    val none = queries.limit(0)
    assert(walk(none, corpus, Long.MaxValue)._1.isEmpty && walk(none, corpus, -1L)._1.isEmpty)
    // all-null query vectors are unscorable on either path
    val nulls = queries.select($"vec_id", lit(null).cast("array<float>").as("embedding"))
    assert(walk(nulls, corpus, Long.MaxValue)._1.isEmpty && walk(nulls, corpus, -1L)._1.isEmpty)
  }

  test("in-memory-shard serving walk runs ZERO Spark jobs per hop") {
    // the r18 serving shape: bounded corpus + edges held driver-side —
    // a regression back to per-hop scan jobs (or shuffles) flips this
    val n = 24
    val corpus = chain(n).localCheckpoint(true)
    val queries = corpus.where($"vec_id" < 3L)
    val sym = Ann.symmetrize(chainEdges(n)).localCheckpoint(true)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) shuffled.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def walk(hops: Int): (Seq[org.apache.spark.sql.Row], Long) = {
        jobs.set(0L)
        val out = Ann.beamSearchKnn(sym, corpus, queries, "vec_id", "embedding",
          entries = Seq(23L, 11L).toDF("bid"),
          beamWidth = 2, hops = hops, k = 3, presymmetrized = true)
          .collect().toSeq
          .sortBy(r => (r.getLong(0), r.getLong(1)))
        Thread.sleep(400) // listener drain
        (out, jobs.get)
      }
      // a narrow beam on the chain keeps moving every hop, so the
      // early-exit cannot fire before the hop budget at these depths
      val (out3, jobs3) = walk(3)
      val (out8, jobs8) = walk(8)
      assert(out3.nonEmpty && out8.nonEmpty && out3 != out8,
        "walk depths converged — hop-count pin would be vacuous")
      // the probes (query/corpus/edges, incremental executeTake jobs)
      // are per-WALK; the hops themselves must schedule NOTHING
      assert(jobs8 === jobs3,
        s"jobs grew with hop count ($jobs3 -> $jobs8) — per-hop jobs are back")
      assert(shuffled.get === 0L, s"walk shuffled ${shuffled.get} bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sf0.1 recall floor: beam top-5 hits >= 90% of the exact top-5") {
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
    val g = Ann.knnGraph(emb, "vec_id", "embedding", "label", k = 16, nprobe = 4)
    val corpus = emb.select($"vec_id", $"embedding")
    val panel = corpus.filter($"vec_id" < 10)
    // the gate convention: TWO entries per list (round-16 entry sweep)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy($"vec_id")
    val entries = emb.select($"label", $"vec_id")
      .withColumn("__r", row_number().over(w)).filter($"__r" <= 2)
      .select($"vec_id".as("bid"))
    val beam = Ann.beamSearchKnn(g, corpus, panel, "vec_id", "embedding",
      entries, beamWidth = 16, hops = 5, k = 5)
    val exact = Ann.bruteTopK(corpus, panel, "vec_id", "embedding", k = 5)
    val hits = beam.join(exact.select($"qid", $"bid"), Seq("qid", "bid"), "left_semi")
      .count()
    assert(hits >= 45L, s"recall@5 degraded: $hits/50 exact neighbours found")
  }
}
