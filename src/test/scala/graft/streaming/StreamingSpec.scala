package graft.streaming

import graft.SparkSpec
import graft.pos.{Analytics, Lake}
import java.nio.file.Files

/** Structured-Streaming ingest: drop-dir → curated lake with checkpoint
  * exactly-once; windowed event-time aggregation.
  */
class StreamingSpec extends SparkSpec {

  import StreamingSpec.receiptLine

  test("drop-dir → lake: AvailableNow micro-batch, checkpointed exactly-once, late files picked up") {
    val dir = Files.createTempDirectory("stream")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val lake = dir.resolve("lake").toString
    val ckpt = dir.resolve("ckpt").toString

    Files.writeString(drop.resolve("batch1.jsonl"),
      receiptLine("r1", "2025-07-01T10:00:00Z", "Burger", 100.0) + "\n" +
        receiptLine("r2", "2025-07-02T11:00:00Z", "Fries", 50.0) + "\n")

    val q1 = StreamingIngest.toLake(spark, drop.toString, lake, ckpt)
    q1.awaitTermination(60000)
    assert(Lake.read(spark, lake).count() === 2)
    val row = Lake.read(spark, lake).filter(org.apache.spark.sql.functions.col("receipt_number") === "r1")
      .collect().head
    assert(row.getAs[String]("time_slot") === "04:00-05:00") // 10:00 − 6h
    assert(row.getAs[String]("order_type") === "Para llevar") // C1 cascade ran

    // Second trigger: only the NEW file is processed (checkpoint offsets)
    Files.writeString(drop.resolve("batch2.jsonl"),
      receiptLine("r3", "2025-08-01T12:00:00Z", "Malteada", 60.0) + "\n")
    val q2 = StreamingIngest.toLake(spark, drop.toString, lake, ckpt)
    q2.awaitTermination(60000)
    val after = Lake.read(spark, lake)
    assert(after.count() === 3) // r1/r2 not duplicated
    assert(after.select("year", "month").distinct().count() === 2)
  }

  test("foreachBatch merge-upsert: re-sent receipts replace, not duplicate") {
    val dir = Files.createTempDirectory("streamm")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val lake = dir.resolve("lake").toString
    val ckpt = dir.resolve("ckpt").toString

    Files.writeString(drop.resolve("b1.jsonl"),
      receiptLine("r1", "2025-07-01T10:00:00Z", "Burger", 100.0) + "\n" +
        receiptLine("r2", "2025-07-02T11:00:00Z", "Fries", 50.0) + "\n")
    StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt).awaitTermination(60000)
    assert(Lake.read(spark, lake).count() === 2)

    // r1/Burger re-sent with a corrected price and a later timestamp:
    // the merge must REPLACE the old row (append would leave 3 rows and
    // defer dedup to read time).
    Files.writeString(drop.resolve("b2.jsonl"),
      receiptLine("r1", "2025-07-01T12:30:00Z", "Burger", 120.0) + "\n")
    StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt).awaitTermination(60000)

    val rows = Lake.read(spark, lake)
    assert(rows.count() === 2, "merged, not appended")
    val r1 = rows.filter(org.apache.spark.sql.functions.col("receipt_number") === "r1").collect().head
    assert(r1.getAs[Double]("price") === 120.0, "newest row won")
  }

  test("foreachBatch merge-upsert into a file: URI root keeps the month's existing rows") {
    val dir = Files.createTempDirectory("streamu")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val lake = "file:" + dir.resolve("lake")
    val ckpt = dir.resolve("ckpt").toString
    Files.writeString(drop.resolve("b1.jsonl"),
      receiptLine("r1", "2025-07-01T10:00:00Z", "Burger", 100.0) + "\n" +
        receiptLine("r2", "2025-07-02T11:00:00Z", "Fries", 50.0) + "\n")
    StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt).awaitTermination(60000)
    // A second batch into the same month merges with, not replaces, it.
    Files.writeString(drop.resolve("b2.jsonl"),
      receiptLine("r3", "2025-07-03T12:00:00Z", "Malteada", 60.0) + "\n")
    StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt).awaitTermination(60000)
    val receipts = Lake.read(spark, lake).collect().map(_.getAs[String]("receipt_number"))
    assert(receipts.sorted.toSeq === Seq("r1", "r2", "r3"))
  }

  test("crash recovery: kill merge stream mid-run, restart from checkpoint, lake equals batch replay") {
    val dir = Files.createTempDirectory("streamcr")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val lake = dir.resolve("lake").toString
    val ckpt = dir.resolve("ckpt").toString
    // Three files → three micro-batches (maxFilesPerTrigger = 1),
    // including a cross-batch correction of r1 the merge must apply.
    Files.writeString(drop.resolve("b1.jsonl"),
      receiptLine("r1", "2025-07-01T10:00:00Z", "Burger", 100.0) + "\n" +
        receiptLine("r2", "2025-07-02T11:00:00Z", "Fries", 50.0) + "\n")
    Files.writeString(drop.resolve("b2.jsonl"),
      receiptLine("r1", "2025-07-05T09:00:00Z", "Burger", 120.0) + "\n")
    Files.writeString(drop.resolve("b3.jsonl"),
      receiptLine("r3", "2025-08-01T12:00:00Z", "Malteada", 60.0) + "\n" +
        receiptLine("r4", "2025-08-02T13:00:00Z", "Refresco", 30.0) + "\n")

    // "Crash": stop() as soon as the first batch reports progress — the
    // stream dies with committed work behind it and unprocessed files
    // ahead of it (possibly mid-foreachBatch; the merge is replay-safe).
    val q1 = StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt, maxFilesPerTrigger = 1)
    val deadline = System.currentTimeMillis + 60000
    while (!q1.recentProgress.exists(_.numInputRows > 0) && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    q1.stop(); q1.awaitTermination(60000)

    // Restart from the same checkpoint: replays/continues to completion.
    StreamingIngest.toLakeMerged(spark, drop.toString, lake, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination(120000)

    // Batch-replay oracle: same transform + same dedup over all files.
    val batchRaw = spark.read.schema(graft.pos.Schemas.rawReceipt)
      .json(drop.toString)
    val expected = Analytics.dedupLatest(
      graft.pos.Transform.run(batchRaw),
      Seq(org.apache.spark.sql.functions.col("price").desc,
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("modifiers"),
          org.apache.spark.sql.functions.lit("")).desc))
      .select("receipt_number", "item_name", "price", "total_money", "shifted_time")
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = Lake.read(spark, lake)
      .select("receipt_number", "item_name", "price", "total_money", "shifted_time")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got === expected)
    assert(got.map(_.head).toSet === Set("r1", "r2", "r3", "r4"))
    // The correction won: r1 at 120, exactly one row.
    val r1 = Lake.read(spark, lake)
      .filter(org.apache.spark.sql.functions.col("receipt_number") === "r1").collect()
    assert(r1.length === 1 && r1.head.getAs[Double]("price") === 120.0)
  }

  test("corrupt-record quarantine: bad lines captured, good rows curated") {
    val dir = Files.createTempDirectory("streamq")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    Files.writeString(drop.resolve("mixed.jsonl"),
      receiptLine("r1", "2025-07-01T10:00:00Z", "Burger", 100.0) + "\n" +
        "this is not json {{{\n" +
        receiptLine("r2", "2025-07-02T11:00:00Z", "Fries", 50.0) + "\n" +
        "[1,2,3]\n")
    val (lakeQ, badQ) = StreamingIngest.toLakeWithQuarantine(
      spark, drop.toString, dir.resolve("lake").toString,
      dir.resolve("quarantine").toString, dir.resolve("ckpt").toString)
    lakeQ.awaitTermination(60000); badQ.awaitTermination(60000)
    assert(Lake.read(spark, dir.resolve("lake").toString).count() === 2)
    val quarantined = spark.read.json(dir.resolve("quarantine").toString)
      .select("line").collect().map(_.getString(0))
    assert(quarantined.length === 2)
    assert(quarantined.exists(_.contains("not json")))
  }

  test("windowed revenue with watermark over the curated stream (memory sink)") {
    val dir = Files.createTempDirectory("stream2")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    Files.writeString(drop.resolve("b.jsonl"),
      receiptLine("r1", "2025-07-01T10:05:00Z", "Burger", 100.0) + "\n" +
        receiptLine("r2", "2025-07-01T10:40:00Z", "Fries", 50.0) + "\n" +
        receiptLine("r3", "2025-07-01T11:10:00Z", "Malteada", 60.0) + "\n")
    val curated = graft.pos.Transform.run(StreamingIngest.rawStream(spark, drop.toString))
    val q = StreamingIngest.windowedRevenue(curated, "1 hour")
      .writeStream.format("memory").queryName("wrev").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT window.start, revenue FROM wrev ORDER BY 1").collect()
    assert(out.length === 2) // 10:00 and 11:00 windows
    assert(out(0).getAs[Double]("revenue") === 150.0)
    assert(out(1).getAs[Double]("revenue") === 60.0)
  }

  test("windowed revenue drops rows behind the watermark and closes windows with the on-time rows") {
    val dir = Files.createTempDirectory("stream_late")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val onTime = Seq(
      Seq(receiptLine("r1", "2025-07-01T10:05:00Z", "Burger", 100.0),
        receiptLine("r2", "2025-07-01T10:40:00Z", "Fries", 50.0),
        receiptLine("r3", "2025-07-01T11:10:00Z", "Malteada", 60.0)),
      // three days on: moves the one-day watermark past July 1st
      Seq(receiptLine("r4", "2025-07-04T12:00:00Z", "Burger", 80.0)),
      Seq(receiptLine("r5", "2025-07-04T13:30:00Z", "Fries", 40.0)))
    // A batch drops rows behind the watermark the previous batch evicted
    // with, which a file moves one batch after it lands: the late file
    // comes two batches after the one that moved the watermark.
    val late = Seq(receiptLine("r6", "2025-07-01T10:20:00Z", "Burger", 999.0))
    val files = (onTime :+ late).zipWithIndex.map { case (lines, i) =>
      val f = drop.resolve(s"b$i.jsonl")
      Files.writeString(f, lines.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1000000L * (i + 1)))
      f.toString
    }
    val curated = graft.pos.Transform.run(
      StreamingIngest.rawStream(spark, drop.toString, maxFilesPerTrigger = 1))
    val q = StreamingIngest.windowedRevenue(curated, "1 hour")
      .writeStream.format("memory").queryName("wlate").outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not finish within 120 s")
    finally q.stop()
    def windows(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
      df.selectExpr("CAST(window.start AS STRING)", "revenue").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    val emitted = windows(spark.table("wlate"))
    val batchOnTime = windows(StreamingIngest.windowedRevenue(graft.pos.Transform.run(
      spark.read.schema(graft.pos.Schemas.rawReceipt).json(files.init: _*)), "1 hour"))
    assert(emitted == Seq("2025-07-01 10:00:00" -> 150.0, "2025-07-01 11:00:00" -> 60.0))
    assert(emitted.forall(batchOnTime.contains), s"$emitted vs $batchOnTime")
  }

  test("S10: lake-scan watermark recovery finds max shifted_time of latest month") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("wm").toString
    val rows = Seq(
      ("r1", Timestamp.valueOf("2025-07-30 10:00:00")),
      ("r2", Timestamp.valueOf("2025-08-02 09:30:00")),
      ("r3", Timestamp.valueOf("2025-08-01 23:00:00"))
    ).toDF("receipt_number", "shifted_time")
      .withColumn("datetime", $"shifted_time")
      .withColumn("date", org.apache.spark.sql.functions.lit("x"))
      .withColumn("time", org.apache.spark.sql.functions.lit("x"))
      .withColumn("order_type", org.apache.spark.sql.functions.lit("Mesa"))
      .withColumn("item_name", org.apache.spark.sql.functions.lit("Burger"))
      .withColumn("cost", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("price", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("total_money", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("modifiers", org.apache.spark.sql.functions.lit(null: String))
      .withColumn("payment_type", org.apache.spark.sql.functions.lit("CASH"))
      .withColumn("minutes_past_midnight", org.apache.spark.sql.functions.lit(0L))
      .withColumn("time_slot", org.apache.spark.sql.functions.lit("00:00-01:00"))
    Lake.writeFull(rows, dir)
    assert(Lake.latestWatermark(spark, dir) === Some("2025-08-02T09:30:00.000Z"))
  }
}

object StreamingSpec {

  /** One raw receipt document as a JSONL line, with one line item. */
  def receiptLine(num: String, ts: String, item: String, price: Double): String =
    receiptLineOf(num, ts, Seq(item -> price))

  /** One raw receipt document as a JSONL line, with one line item per
    * `(item, price)`, each carrying the `(name, option)` modifiers.
    */
  def receiptLineOf(
      num: String,
      ts: String,
      items: Seq[(String, Double)],
      modifiers: Seq[(String, String)] = Nil): String = {
    val mods = modifiers.map { case (n, o) => s"""{"name":"$n","option":"$o"}""" }.mkString(",")
    val lineItems = items.map { case (item, price) =>
      s"""{"item_name":"$item","cost":${price / 2},"price":$price,"total_money":$price,"line_modifiers":[$mods]}"""
    }.mkString(",")
    s"""{"receipt_number":"$num","receipt_date":"$ts","created_at":"$ts","updated_at":"$ts","order":"Mesa 01","payments":[{"type":"CASH"}],"line_items":[$lineItems]}"""
  }
}
