package graft.ingest

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.pos.{Analytics, Lake, Pipeline}
import java.net.InetSocketAddress
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** S1–S4 + full daily_run end-to-end against a local HTTP stub of the
  * POS API (pagination, cursor, 402, watermark advance, at-least-once
  * lake append, read-side dedup).
  */
class PipelineSpec extends SparkSpec {

  private def receiptJson(num: String, ts: String, item: String, price: Double): String =
    s"""{"receipt_number":"$num","receipt_date":"$ts","created_at":"$ts",
       |"updated_at":"$ts","order":"Mesa 01",
       |"payments":[{"type":"CASH"}],
       |"line_items":[{"item_name":"$item","cost":${price / 2},"price":$price,
       |"total_money":$price,"line_modifiers":[{"name":"Mayonesa","option":"Ajo"}]}]}"""
      .stripMargin.replaceAll("\n", "")

  private def startStub(
      pages: Map[Option[String], String],
      items: String = """{"items":[{"id":1}]}""",
      receipts402: Boolean = false): (HttpServer, Int) = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/items", (ex: HttpExchange) => respond(ex, 200, items))
    server.createContext("/receipts", (ex: HttpExchange) => {
      if (receipts402) respond(ex, 402, """{"error":"payment required"}""")
      else {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val cursor = q.split("&").find(_.startsWith("cursor=")).map(_.stripPrefix("cursor="))
        respond(ex, 200, pages.getOrElse(cursor, """{"receipts":[]}"""))
      }
    })
    server.start()
    (server, server.getAddress.getPort)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def config(port: Int): Pipeline.Config = {
    val dir = Files.createTempDirectory("pipe")
    Pipeline.Config(
      baseUrl = s"http://localhost:$port",
      apiKey = "test-key",
      lakeRoot = dir.resolve("lake").toString,
      statePath = dir.resolve("etl_state.json"),
      rawDir = dir.resolve("raw"),
      reportDir = dir.resolve("reports"),
      pageDelayMs = 0)
  }

  test("S1/S2: cursor pagination walks all pages; receipt counting; cap halts") {
    val pages = Map(
      None -> s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}],"cursor":"c1"}""",
      Some("c1") -> s"""{"receipts":[${receiptJson("r2", "2025-07-01T10:00:00Z", "Fries", 50.0)}]}""")
    val (server, port) = startStub(pages)
    try {
      val api = new PosApiClient(s"http://localhost:$port", "k", pageDelayMs = 0)
      val got = api.fetchReceiptPages("2025-07-01T00:00:00Z", "2025-08-01T00:00:00Z")
      assert(got.length === 2)
      val capped = api.fetchReceiptPages("2025-07-01T00:00:00Z", "2025-08-01T00:00:00Z",
        receiptCap = Some(1))
      assert(capped.length === 1)
      val parsed = Receipts.fromPages(spark, got).collect()
      assert(parsed.map(_.getAs[String]("receipt_number")).toSet === Set("r1", "r2"))
    } finally server.stop(0)
  }

  /** Range-aware stub: serves ONE receipt per page (forcing cursor
    * pagination inside every slice), filtered by updated_at_min/max.
    */
  private def startRangeStub(all: Seq[(String, String)]): (HttpServer, Int) = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val cursors = new java.util.concurrent.ConcurrentHashMap[String, (String, String, Int)]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/receipts", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val (mn, mx, off) = params.get("cursor") match {
        case Some(c) => cursors.get(c)
        case None => (params("updated_at_min"), params("updated_at_max"), 0)
      }
      // Compare as instants, not strings: the source emits ms-precision
      // slice bounds and real APIs compare timestamps, where "…00Z" and
      // "…00.000Z" are equal but lexicographically differ.
      def t(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
      val inRange = all.filter { case (_, ts) => t(ts) >= t(mn) && t(ts) <= t(mx) }
        .sortBy(p => t(p._2))(Ordering[Long].reverse)
      val page = inRange.slice(off, off + 1)
      if (page.isEmpty) respond(ex, 200, """{"receipts":[]}""")
      else {
        val (num, ts) = page.head
        val receipts = receiptJson(num, ts, "Burger", 100.0)
        val body =
          if (off + 1 < inRange.size) {
            val c = "c" + counter.incrementAndGet()
            cursors.put(c, (mn, mx, off + 1))
            s"""{"receipts":[$receipts],"cursor":"$c"}"""
          } else s"""{"receipts":[$receipts]}"""
        respond(ex, 200, body)
      }
    })
    server.start()
    (server, server.getAddress.getPort)
  }

  test("S1-V2: DataSource V2 source slices the range, paginates per slice, equals driver path") {
    val all = Seq(
      ("r1", "2025-07-02T10:00:00Z"), ("r2", "2025-07-08T09:00:00Z"),
      ("r3", "2025-07-11T00:00:00Z"), // exactly on a slice boundary
      ("r4", "2025-07-15T12:00:00Z"), ("r5", "2025-07-22T08:00:00Z"),
      ("r6", "2025-07-30T23:00:00Z"))
    val (server, port) = startRangeStub(all)
    try {
      val df = spark.read.format("pos-receipts")
        .option("baseUrl", s"http://localhost:$port").option("apiKey", "k")
        .option("updatedAtMin", "2025-07-01T00:00:00Z")
        .option("updatedAtMax", "2025-07-31T00:00:00Z")
        .option("numSlices", "3").option("pageDelayMs", "0")
        .load()
      val rows = df.collect()
      assert(rows.map(_.getAs[String]("slice_start")).distinct.length === 3)
      assert(rows.length === 6) // one page per receipt: pagination ran in every slice
      val parsed = Receipts.fromBodies(df)
      val nums = parsed.select("receipt_number").collect().map(_.getString(0))
      assert(nums.sorted.toSeq === all.map(_._1).sorted) // each receipt exactly once
      // Executor path ≡ driver path
      val driverPages = new PosApiClient(s"http://localhost:$port", "k", pageDelayMs = 0)
        .fetchReceiptPages("2025-07-01T00:00:00Z", "2025-07-31T00:00:00Z")
      val driverNums = Receipts.fromPages(spark, driverPages)
        .select("receipt_number").collect().map(_.getString(0))
      assert(nums.sorted.toSeq === driverNums.sorted.toSeq)
    } finally server.stop(0)
  }

  test("S1-V2: ms-precision receipts on slice boundaries are fetched exactly once") {
    // With [07-01T00:00:00, 07-21T00:00:00] and 2 slices, second-aligned
    // slicing put the boundary at [… 07-10T23:59:59] / [07-11T00:00:00 …]:
    // a receipt at 23:59:59.500Z fell into the 1-second gap and was
    // fetched by NO slice. ms-precision half-open boundaries close it.
    val all = Seq(
      ("r1", "2025-07-02T10:00:00.250Z"),
      ("r2", "2025-07-10T23:59:59.500Z"), // inside the old inter-slice gap
      ("r3", "2025-07-11T00:00:00.000Z"), // exactly on the new slice start
      ("r4", "2025-07-20T23:59:59.999Z"))
    val (server, port) = startRangeStub(all)
    try {
      val df = spark.read.format("pos-receipts")
        .option("baseUrl", s"http://localhost:$port").option("apiKey", "k")
        .option("updatedAtMin", "2025-07-01T00:00:00Z")
        .option("updatedAtMax", "2025-07-21T00:00:00Z")
        .option("numSlices", "2").option("pageDelayMs", "0")
        .load()
      val nums = Receipts.fromBodies(df)
        .select("receipt_number").collect().map(_.getString(0))
      assert(nums.sorted.toSeq === Seq("r1", "r2", "r3", "r4"))
      assert(nums.length === nums.distinct.length) // no slice overlap either
    } finally server.stop(0)
  }

  test("S3-V2: micro-batch streaming source resumes from the checkpoint watermark") {
    val all = Seq(
      ("r1", "2025-07-02T10:00:00Z"), ("r2", "2025-07-08T09:00:00Z"),
      ("r3", "2025-07-15T12:00:00Z"), ("r4", "2025-07-22T08:00:00Z"))
    val (server, port) = startRangeStub(all)
    val dir = Files.createTempDirectory("restms")
    val ckpt = dir.resolve("ckpt").toString
    val sink = dir.resolve("bodies").toString
    def run(maxIso: String): Unit = {
      val stream = spark.readStream.format("pos-receipts")
        .option("baseUrl", s"http://localhost:$port").option("apiKey", "k")
        .option("updatedAtMin", "2025-07-01T00:00:00Z")
        .option("updatedAtMax", maxIso)
        .option("numSlices", "2").option("pageDelayMs", "0")
        .load()
      val q = stream.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    def receiptsInSink(): Seq[String] =
      Receipts.fromBodies(spark.read.parquet(sink))
        .select("receipt_number").collect().map(_.getString(0)).sorted.toSeq
    try {
      // Run 1: cap at July 10 → only r1, r2 are in range.
      run("2025-07-10T00:00:00Z")
      assert(receiptsInSink() === Seq("r1", "r2"))
      // Run 2, same checkpoint, cap moved to July 31: the stream must
      // resume from the committed watermark — r3/r4 arrive and r1/r2
      // are NOT re-fetched (each appears exactly once).
      run("2025-07-31T00:00:00Z")
      assert(receiptsInSink() === Seq("r1", "r2", "r3", "r4"))
    } finally server.stop(0)
  }

  test("daily_run e2e: fetch → transform → append → watermark commit; idempotent on re-run") {
    val body =
      s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)},
         |${receiptJson("r2", "2025-07-03T11:00:00Z", "Fries", 50.0)}]}"""
        .stripMargin.replaceAll("\n", "")
    val (server, port) = startStub(Map(None -> body))
    try {
      val cfg = config(port)
      // Seed the state so the watermark filter passes both receipts
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      assert(Pipeline.dailyRun(spark, cfg) === true)
      // Watermark advanced to max(updated_at)
      assert(new graft.pos.StateStore(cfg.statePath).readLastTimestamp()
        === "2025-07-03T11:00:00Z")
      val lake = Lake.read(spark, cfg.lakeRoot)
      assert(lake.count() === 2)
      assert(lake.columns.contains("time_slot"))
      // Second run: same data now older than watermark → no-op
      assert(Pipeline.dailyRun(spark, cfg) === false)
      assert(Lake.read(spark, cfg.lakeRoot).count() === 2)
      // Reports render from the lake
      val md = Pipeline.cumulativeReport(spark, cfg)
      assert(md.contains("Total Revenue") && md.contains("$150.00"))
      val monthly = Pipeline.monthlyReport(spark, cfg, "2025-07", "2025-06")
      assert(monthly.contains("(new)")) // no prior month → pct renders (new)
      assert(monthly.contains("Burger"))
    } finally server.stop(0)
  }

  /** Every parquet file under the lake, relative path → bytes. */
  private def parquetFiles(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("daily_run over a two-month batch is one Spark job writing one file per month") {
    val body =
      s"""{"receipts":[${receiptJson("r1", "2025-07-15T10:00:00Z", "Burger", 100.0)},
         |${receiptJson("r2", "2025-08-02T11:00:00Z", "Fries", 50.0)},
         |${receiptJson("r3", "2025-08-03T12:00:00Z", "Tacos", 70.0)}]}"""
        .stripMargin.replaceAll("\n", "")
    val (server, port) = startStub(Map(None -> body))
    val sc = spark.sparkContext
    val group = "dailyRun-one-job"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (ours(e.properties)) started.add(e.properties.getProperty("spark.job.description"))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    try {
      val cfg = config(port)
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "outer")
      assert(Pipeline.dailyRun(spark, cfg))
      assert(sc.getLocalProperty("spark.job.description") === "outer") // restored
      val deadline = System.nanoTime() + 10000000000L
      while (started.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500) // a second job would have been queued by now
      assert(started.toArray.toSeq === Seq(s"Pipeline.dailyRun: append ${cfg.lakeRoot}"))
      val files = parquetFiles(cfg.lakeRoot).keys.toSeq
      assert(files.map(f => f.substring(0, f.lastIndexOf('/'))).sorted ===
        Seq("year=2025/month=07", "year=2025/month=08"))
      assert(new graft.pos.StateStore(cfg.statePath).readLastTimestamp()
        === "2025-08-03T12:00:00Z")
      assert(Lake.read(spark, cfg.lakeRoot).count() === 3)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      server.stop(0)
    }
  }

  test("daily_run over a stale-only or empty batch leaves the lake files and the state file as they were") {
    val first = s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}]}"""
    // r0 is older than the watermark, r1 sits exactly on it
    val stale =
      s"""{"receipts":[${receiptJson("r0", "2025-07-01T09:00:00Z", "Fries", 50.0)},
         |${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}]}"""
        .stripMargin.replaceAll("\n", "")
    val (server, port) = startStub(Map(None -> first))
    val cfg = config(port)
    new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
    try assert(Pipeline.dailyRun(spark, cfg)) finally server.stop(0)
    Seq(stale, """{"receipts":[]}""").foreach { body =>
      val (s2, p2) = startStub(Map(None -> body))
      try {
        val lakeBefore = parquetFiles(cfg.lakeRoot)
        val stateBefore = Files.readAllBytes(cfg.statePath).toSeq
        assert(Pipeline.dailyRun(spark, cfg.copy(baseUrl = s"http://localhost:$p2")) === false)
        assert(parquetFiles(cfg.lakeRoot) === lakeBefore, body)
        assert(Files.readAllBytes(cfg.statePath).toSeq === stateBefore, body)
      } finally s2.stop(0)
    }
  }

  test("daily_run: a receipt without line items still advances the watermark") {
    val bare = receiptJson("r2", "2025-07-03T11:00:00Z", "Fries", 50.0)
      .replaceAll(""""line_items":\[.*\]\}$""", """"line_items":[]}""")
    assert(bare.endsWith(""""line_items":[]}"""))
    val body =
      s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)},$bare]}"""
    val (server, port) = startStub(Map(None -> body))
    try {
      val cfg = config(port)
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      assert(Pipeline.dailyRun(spark, cfg))
      assert(new graft.pos.StateStore(cfg.statePath).readLastTimestamp()
        === "2025-07-03T11:00:00Z")
      assert(Lake.read(spark, cfg.lakeRoot).count() === 1) // r2 has no line to land
    } finally server.stop(0)
  }

  test("daily_run: a failing append propagates and leaves the state file unchanged") {
    val body = s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}]}"""
    val (server, port) = startStub(Map(None -> body))
    try {
      val base = config(port)
      val notADir = Files.createTempFile("lake", ".file")
      Files.writeString(notADir, "not a lake")
      val cfg = base.copy(lakeRoot = notADir.toString)
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      val stateBefore = Files.readAllBytes(cfg.statePath).toSeq
      val t0 = System.nanoTime()
      val err = intercept[Exception](Pipeline.dailyRun(spark, cfg))
      val waited = (System.nanoTime() - t0) / 1e9
      // the append's own error, thrown before the observation wait
      assert(!err.isInstanceOf[java.util.concurrent.TimeoutException], err)
      assert(waited < Pipeline.observationWait.toSeconds / 2.0, s"took $waited s")
      assert(Files.readAllBytes(cfg.statePath).toSeq === stateBefore)
      assert(Files.readString(notADir) === "not a lake")
      assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
    } finally server.stop(0)
  }

  test("monthlyReport on a month with no sales writes the report and axes-only charts") {
    val body = s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}]}"""
    val (server, port) = startStub(Map(None -> body))
    try {
      val cfg = config(port)
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      assert(Pipeline.dailyRun(spark, cfg))
      // August has no rows in the lake: the report renders, the charts
      // render their axes alone instead of throwing
      val md = Pipeline.monthlyReport(spark, cfg, "2025-08", "2025-07")
      assert(md.contains("# Monthly Report — 2025-08"))
      assert(Files.exists(cfg.reportDir.resolve("monthly_2025-08.md")))
      Seq("top_products_2025-08.png", "daily_revenue_2025-08.png").foreach { name =>
        val png = Files.readAllBytes(cfg.reportDir.resolve(name))
        val Some((h, px)) = graft.multimodal.ImageCodec.decodePng(png)
        assert(px.forall(p => (p & 0xff) == 255 || (p & 0xff) == 128),
          s"$name draws more than its axes (${h.width}x${h.height})")
      }
    } finally server.stop(0)
  }

  test("S3: HTTP 402 tolerated as empty batch; no state advance") {
    val (server, port) = startStub(Map.empty, receipts402 = true)
    try {
      val cfg = config(port)
      new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
      assert(Pipeline.dailyRun(spark, cfg) === false)
      assert(new graft.pos.StateStore(cfg.statePath).readLastTimestamp()
        === "2025-07-01T00:00:00.000Z")
    } finally server.stop(0)
  }

  test("late update flow: newer version of a receipt wins in the dedup view") {
    val v1 = s"""{"receipts":[${receiptJson("r1", "2025-07-02T10:00:00Z", "Burger", 100.0)}]}"""
    val (server1, port1) = startStub(Map(None -> v1))
    val cfg = config(port1)
    new graft.pos.StateStore(cfg.statePath).commit(Some("2025-07-01T00:00:00.000Z"))
    try { assert(Pipeline.dailyRun(spark, cfg)) } finally server1.stop(0)
    // Same receipt re-emitted later with a new price and newer timestamps
    val v2 = s"""{"receipts":[${receiptJson("r1", "2025-07-05T09:00:00Z", "Burger", 120.0)}]}"""
    val (server2, port2) = startStub(Map(None -> v2))
    try {
      val cfg2 = cfg.copy(baseUrl = s"http://localhost:${server2.getAddress.getPort}")
      assert(Pipeline.dailyRun(spark, cfg2))
    } finally server2.stop(0)
    val raw = Lake.read(spark, cfg.lakeRoot)
    assert(raw.count() === 2) // append-only: both versions at rest
    val deduped = Analytics.dedupLatest(raw).collect()
    assert(deduped.length === 1)
    assert(deduped.head.getAs[Double]("price") === 120.0) // newest wins
  }
}
