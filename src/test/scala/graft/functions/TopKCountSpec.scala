package graft.functions

import graft.SparkSpec
import org.apache.spark.unsafe.types.UTF8String

/** The native one-pass top-k aggregate: distributed correctness
  * (partial/merge through a real shuffle), tie and null semantics,
  * buffer serialization, and the SQL surface.
  */
class TopKCountSpec extends SparkSpec {

  import spark.implicits._

  test("top_k_count equals the groupBy+window idiom across many partitions") {
    val rows = for {
      g <- Seq("g1", "g2"); i <- 1 to 400
    } yield (g, s"v${(i * (if (g == "g1") 7 else 11)) % 23}")
    // 16 partitions: partial buffers must merge and serialize through
    // the exchange for the result to come out right
    val df = rows.toDF("g", "v").repartition(16)
    val got = df.groupBy($"g")
      .agg(TopKCount.column(spark, $"v", 4).as("top"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getString(0), s.getLong(1))))
      .toMap
    // reference: two-stage count + sort
    val expected = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.groupBy(_._2).map { case (v, xs) => (v, xs.size.toLong) }
        .toSeq.sortBy { case (v, c) => (-c, v) }.take(4)
    }
    assert(got === expected)
    // single ObjectHashAggregate pass, not an extra window exchange
    val plan = df.groupBy($"g").agg(TopKCount.column(spark, $"v", 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.toLowerCase.contains("window"), "top-k must not need a window")
  }

  test("ties break by value ascending; nulls ignored; k beyond domain returns all") {
    val df = Seq(
      ("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"),
      ("g", null)).toDF("g", "v")
    val top = df.groupBy($"g").agg(TopKCount.column(spark, $"v", 10).as("top"))
      .collect().head.getSeq[org.apache.spark.sql.Row](1)
      .map(s => (s.getString(0), s.getLong(1)))
    assert(top === Seq(("a", 2L), ("b", 2L), ("c", 1L))) // a before b on the tie
  }

  test("SQL surface via session extensions; non-literal k is a clean analysis error") {
    TopKCount.register(spark)
    val out = spark.sql(
      "SELECT top_k_count(v, 2) AS top FROM VALUES ('x'),('x'),('y'),('z') AS t(v)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(s => (s.getString(0), s.getLong(1)))
    assert(out === Seq(("x", 2L), ("y", 1L)))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT top_k_count(v) FROM VALUES ('x') AS t(v)").collect()
    }
    assert(ex.getMessage.contains("top_k_count"))
  }

  test("streaming: top-k per event-time window works where the window-rank idiom cannot") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{window => twindow}
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[(Timestamp, String)]
    def ts(m: Int) = Timestamp.valueOf(f"2025-07-01 10:$m%02d:00")
    events.addData(
      (ts(5), "burger"), (ts(10), "burger"), (ts(15), "fries"),
      (ts(40), "soda"), (ts(45), "soda"), (ts(50), "burger"),
      (ts(62), "fries"), (ts(70), "fries"), (ts(71), "soda"))
    val stream = events.toDF().toDF("t", "item").withWatermark("t", "10 minutes")
    // a single aggregate call is a legal stateful streaming aggregation
    val q = stream.groupBy(twindow($"t", "1 hour"))
      .agg(TopKCount.column(spark, $"item", 2).as("top"))
      .writeStream.format("memory").queryName("topk").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.sql("SELECT window.start AS s, top FROM topk ORDER BY s")
      .collect()
      .map(r => r.getTimestamp(0).toString ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getString(0), x.getLong(1))))
    assert(out.length === 2)
    // 10:00 window: burger 3, soda 2 (fries 1 cut); 11:00: fries 2, soda 1
    assert(out(0)._2 === Seq(("burger", 3L), ("soda", 2L)))
    assert(out(1)._2 === Seq(("fries", 2L), ("soda", 1L)))
    // ...and the built-in idiom (count then rank) is REJECTED on streams:
    // chained aggregations are unsupported, which is the reason this
    // aggregate exists despite the batch form being faster (PLANS.md,
    // "Round-3 measured negative: native top-k aggregate vs window idiom").
    val counts = stream.groupBy(twindow($"t", "1 hour"), $"item").count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"window").orderBy($"count".desc)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      counts.withColumn("r", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"r" <= 2)
        .writeStream.format("memory").queryName("topk_window")
        .outputMode("complete").start()
    }
    assert(ex.getMessage.toLowerCase.contains("not supported") ||
      ex.getMessage.toLowerCase.contains("unsupported"))
  }

  test("buffer serialization round-trips exactly") {
    val agg = TopKCount(org.apache.spark.sql.catalyst.expressions.Literal("x"), 3)
    val buf = agg.createAggregationBuffer()
    Seq("alpha" -> 5L, "beta" -> 2L, "" -> 7L, "β-unicode" -> 1L).foreach {
      case (s, c) => buf.update(UTF8String.fromString(s), c)
    }
    val restored = agg.deserialize(agg.serialize(buf))
    assert(restored.map { case (k, v) => k.toString -> v } ===
      buf.map { case (k, v) => k.toString -> v })
  }
}
