package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Out-of-order / late-data stress for the CDC and streaming tiers at a
  * real scale factor (the round-8/9 advice item: these gates had the
  * thinnest perf history). Three legs, each emitting one JSON line per
  * phase (wall + listener-measured shuffle):
  *
  *  1. REPEATED out-of-order SCD2 merges: the cdc2 gate proves ONE
  *     any-order merge; a warehouse does them daily. Split the event
  *     log into `gens` generations interleaved BY EVENT ID (so every
  *     delta interleaves with all recorded history in event time — the
  *     worst case for the rebuild-touched-keys path) and fold them in
  *     one at a time. Invariant: the folded history has the same row
  *     count and per-key version span as a one-shot rebuild of the
  *     full log.
  *
  *  2. Streaming SCD2 sink ([[graft.streaming.Scd2Stream.applyBatch]])
  *     at sf scale: time-ordered micro-batches (the contract's happy
  *     path) over the bucketed history layout — per-batch wall shows
  *     whether merge cost tracks the BATCH or the accumulated HISTORY
  *     (partition-pruned buckets say batch; a regression says history).
  *
  *  3. Event-time windowed aggregation with LATE data beyond the
  *     watermark: deliver the newest 99% of events first, then replay
  *     the oldest 1% as a late second file. With a 1 h watermark the
  *     late rows are days beyond the frontier — Structured Streaming
  *     must DROP them; the emitted (closed) windows must equal the
  *     batch aggregate of the on-time rows over those windows.
  *
  * Usage: runMain graft.tools.LateDataStress <sfDir> [gens]
  */
object LateDataStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gens = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val write = new AtomicLong
    val read = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        write.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    })
    def timed[A](phase: String, extra: String = "")(body: => A): A = {
      write.set(0); read.set(0)
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus drain
      println(f"""{"phase":"$phase","sec":$sec%.3f,"shuffle_write_mb":${write.get / 1e6}%.1f,"shuffle_read_mb":${read.get / 1e6}%.1f$extra,"sf":"$sfDir"}""")
      r
    }

    val ev = graft.Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("value"),
      unix_micros(col("ts")).as("tus"), col("ts"))
    ev.cache(); val nEvents = ev.count()
    println(s"""{"phase":"setup","events":$nEvents,"sf":"$sfDir"}""")

    // ---- leg 1: repeated out-of-order merges -------------------------
    import graft.operators.Scd2
    def logOf(i: Int) = ev.filter(col("event_id") % gens === i)
      .select(col("event_id"), col("user_id"), col("value"), col("tus"))
    var hist = timed("ooo_merge_init")(
      Scd2.fromLog(logOf(0), "user_id", "tus", "event_id", Seq("value"))
        .localCheckpoint())
    (1 until gens).foreach { i =>
      hist = timed(s"ooo_merge_gen$i")(
        Scd2.applyChangesAnyOrder(
          hist, logOf(i), "user_id", "tus", "event_id", Seq("value"))
          .localCheckpoint())
    }
    val fullRebuild = Scd2.fromLog(
      ev.select(col("event_id"), col("user_id"), col("value"), col("tus")),
      "user_id", "tus", "event_id", Seq("value"))
    val foldedN = hist.count()
    val rebuiltN = fullRebuild.count()
    val spanOk = hist.groupBy(col("user_id")).agg(max(col("version")).as("v"))
      .join(
        fullRebuild.groupBy(col("user_id")).agg(max(col("version")).as("v2")),
        Seq("user_id"))
      .filter(col("v") =!= col("v2")).isEmpty
    println(s"""{"phase":"ooo_merge_check","folded_rows":$foldedN,"rebuilt_rows":$rebuiltN,"version_spans_match":$spanOk}""")
    require(foldedN == rebuiltN && spanOk,
      s"repeated out-of-order merges diverged from one-shot rebuild: $foldedN vs $rebuiltN, spans $spanOk")

    // ---- leg 2: streaming SCD2 sink, time-ordered micro-batches ------
    val dir = java.nio.file.Files.createTempDirectory("latescd2")
    val histRoot = dir.resolve("hist").toString
    val cutExprs = (1 until gens).map(i => expr(s"percentile(tus, ${i.toDouble / gens})"))
    val cuts = ev.agg(cutExprs.head, cutExprs.tail: _*).head()
      .toSeq.map(_.asInstanceOf[Double].toLong)
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    (0 until gens).foreach { i =>
      val chunk = ev
        .filter(col("tus") > bounds(i) && col("tus") <= bounds(i + 1))
        .select(col("event_id"), col("user_id"), col("value"), col("tus"))
      timed(s"stream_scd2_batch$i", s""","batch_rows":${chunk.count()}""")(
        graft.streaming.Scd2Stream.applyBatch(
          chunk, histRoot, "user_id", "tus", "event_id", Seq("value"), nBuckets = 16))
    }
    val streamedN = spark.read.parquet(histRoot).count()
    println(s"""{"phase":"stream_scd2_check","history_rows":$streamedN,"rebuilt_rows":$rebuiltN}""")
    require(streamedN == rebuiltN,
      s"streamed SCD2 history diverged: $streamedN vs $rebuiltN")

    // ---- leg 3: windowed aggregation with beyond-watermark late data -
    val cut1pct = ev.agg(expr("percentile(tus, 0.01)")).head().getDouble(0).toLong
    val onTime = ev.filter(col("tus") > cut1pct).select(col("event_id"), col("ts"), col("value"))
    val late = ev.filter(col("tus") <= cut1pct).select(col("event_id"), col("ts"), col("value"))
    val drop = dir.resolve("drop"); java.nio.file.Files.createDirectories(drop)
    def dropChunk(df: DataFrame, name: String): Unit = {
      val staging = java.nio.file.Files.createTempDirectory("latechunk")
      df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("o").toString)
      val part = java.nio.file.Files.list(staging.resolve("o")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, drop.resolve(name))
    }
    dropChunk(onTime, "c0_ontime.parquet")
    dropChunk(late, "c1_late.parquet")
    val lateN = late.count()
    timed("late_window_stream", s""","late_rows":$lateN""") {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(drop.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.format("memory").queryName("latewin").outputMode("append")
        .option("checkpointLocation", dir.resolve("wckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()
    }
    // Every EMITTED window must match the batch aggregate of the
    // ON-TIME rows alone — i.e. the late file changed nothing (its rows
    // are days beyond the watermark and must be dropped, not partially
    // applied). Unclosed tail windows are still in state, so compare on
    // the emitted set.
    val emitted = spark.sql("SELECT window.start AS ws, n_events FROM latewin")
    val batchOnTime = onTime.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n2")).select(col("window.start").as("ws"), col("n2"))
    val mismatches = emitted.join(batchOnTime, Seq("ws"), "left")
      .filter(col("n_events") =!= coalesce(col("n2"), lit(-1L))).count()
    val emittedN = emitted.count()
    println(s"""{"phase":"late_window_check","emitted_windows":$emittedN,"mismatched_windows":$mismatches,"late_rows_dropped":$lateN}""")
    require(mismatches == 0 && emittedN > 0,
      s"late-data windows diverged: $mismatches mismatches over $emittedN windows")

    ev.unpersist()
    spark.stop()
  }
}
