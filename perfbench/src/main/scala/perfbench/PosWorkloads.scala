package perfbench

import graft.pos.{Lake, Pipeline, StateStore}
import graft.reporting.{Emailer, PdfRenderer}
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `pos`: the paper's pipeline as its scheduler runs it, up to a month
  * end. Each step is one `Pipeline.dailyRun` against the REST stub,
  * whose clock moves to the end of the next day before the call, on top
  * of a history lake loaded with `Pipeline.loadHistorical`. The last day
  * is 2023-06-30; after it the closing job runs the month-end cycle over
  * the lake the daily appends left behind: `Lake.compactTo`,
  * `Pipeline.monthlyReport` (markdown + charts) for 2023-06 vs 2023-05,
  * `Pipeline.cumulativeReport` (with `MarketBasket`), and the monthly
  * report rendered by `PdfRenderer` and mailed by `Emailer` to the SMTP
  * sink.
  *
  * After one day in ten (at a seeded position in each block of ten days
  * after the warm-up, never a block's last day) the state file is rolled
  * back to its value before that day, as if the process crashed between
  * the lake append and the watermark commit, so the next call lands that
  * day's receipts again. Every block of timed days thus lands exactly one
  * day twice.
  */
final class PosPipeline(spark: SparkSession, work: Path, seed: Long, tr: Tracer, trace: Boolean)
    extends Workload {
  val warmSteps = 4
  val timedSteps = 10
  val tracedSteps = 10
  /** Daily days: warm-up, then the timed days (a traced run interleaves
    * as many untraced days as traced ones).
    */
  val days: Int = warmSteps + (if (trace) 2 * tracedSteps else timedSteps)
  val monthEnd: LocalDate = LocalDate.of(2023, 6, 30)
  val reportMonth = "2023-06"
  val comparisonMonth = "2023-05"
  val start: LocalDate = LocalDate.of(2023, 1, 1)
  /** The first daily day: the `days` daily days end on `monthEnd`. */
  val daysStart: LocalDate = monthEnd.minusDays(days - 1L)

  private val cfg = Pipeline.Config(
    baseUrl = "", apiKey = "perfbench-key",
    lakeRoot = work.resolve("lake").toString,
    statePath = work.resolve("etl_state.json"),
    rawDir = work.resolve("raw"),
    reportDir = work.resolve("reports"),
    receiptCap = None,
    pageDelayMs = 0)
  private val compacted = work.resolve("lake_compacted").toString

  private var history: Vector[Receipt] = Vector.empty
  private var daily: Vector[Vector[Receipt]] = Vector.empty
  private var replay: Array[Boolean] = Array.empty
  private var stub: RestStub = _
  private val smtp = new SmtpSink
  private def runCfg = cfg.copy(baseUrl = s"http://127.0.0.1:${stub.port}")

  private def endOfDayMs(d: LocalDate): Long =
    d.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli - 1

  /** Generate the receipts, load the history lake, commit its watermark
    * and start the REST stub.
    */
  def setup(): Unit = {
    val gen = new PosGen(seed)
    history = gen.days(start, (daysStart.toEpochDay - start.toEpochDay).toInt).flatten
    daily = gen.days(daysStart, days)
    val r = new Random(seed * 31 + 7)
    val at = Array.fill(days / 10 + 1)(r.nextInt(9))
    replay = Array.tabulate(days) { i =>
      val k = i - warmSteps
      k >= 0 && k % 10 == at(k / 10)
    }
    Files.createDirectories(cfg.rawDir)
    val raw = cfg.rawDir.resolve("history.jsonl")
    Files.write(raw, history.map(_.json).asJava)
    Pipeline.loadHistorical(spark, cfg, raw.toString)
    new StateStore(cfg.statePath).commit(Some(history.last.ts))
    stub = new RestStub(history ++ daily.flatten, cfg.apiKey)
    stub.clockMs = endOfDayMs(daysStart.minusDays(1))
  }

  private var stateBefore = ""
  private var lastServed: Seq[Receipt] = Nil
  private var lastLanded: Seq[Receipt] = Nil
  private var timedRows = 0L
  private var lakeBytesBefore = 0L
  private val stubBefore = mutable.Map.empty[String, Long]
  private var monthlyMd = ""
  private var pdfOk = false
  private var lastCounters: Map[String, Double] = Map.empty

  override def hasStep(i: Int): Boolean = i < days

  override def timingStarts(): Unit = {
    lakeBytesBefore = dirBytes(cfg.lakeRoot)
    timedRows = 0L
  }

  /** `dailyRun` for day `i` of the daily timeline. */
  def step(i: Int): Double = {
    if (i > 0 && replay(i - 1)) Files.writeString(cfg.statePath, stateBefore)
    stateBefore = Files.readString(cfg.statePath)
    val wm = new StateStore(cfg.statePath).readLastTimestamp()
    stub.clockMs = endOfDayMs(daysStart.plusDays(i.toLong))
    stub.drainServed()
    stubBefore("req") = stub.requests.get
    stubBefore("bytes") = stub.bytes.get
    stubBefore("ns") = stub.serviceNanos.get
    val t0 = System.nanoTime()
    val landedAny = tr.span("pos.Pipeline") { Pipeline.dailyRun(spark, runCfg) }
    val sec = (System.nanoTime() - t0) / 1e9
    lastServed = stub.drainServed()
    lastLanded = lastServed.filter(_.ts > wm)
    require(landedAny && lastLanded.nonEmpty, s"day $i landed nothing")
    timedRows += lastRows
    lastCounters = Map(
      "ingest.http_requests" -> (stub.requests.get - stubBefore("req")).toDouble,
      "ingest.http_bytes" -> (stub.bytes.get - stubBefore("bytes")).toDouble,
      "ingest.http_s" -> (stub.serviceNanos.get - stubBefore("ns")) / 1e9,
      "ingest.kept_ratio" -> lastLanded.size.toDouble / lastServed.size)
    sec
  }

  override val finish: Option[() => Double] = Some(() => monthEndCycle())

  /** The month-end cycle, once, after the last day. */
  private def monthEndCycle(): Double = {
    val c = runCfg
    val t0 = System.nanoTime()
    tr.span("pos.Lake.compact") { Lake.compactTo(spark, cfg.lakeRoot, compacted) }
    val md = tr.span("pos.Reports.monthly") {
      Pipeline.monthlyReport(spark, c, reportMonth, comparisonMonth)
    }
    tr.span("pos.Reports.cumulative") { Pipeline.cumulativeReport(spark, c) }
    val pdf = tr.span("reporting") {
      val pdf = PdfRenderer.render(md)
      Emailer.send(Emailer.SmtpConfig("127.0.0.1", smtp.port),
        Emailer.reportMessage("pos@example.com", "owner@example.com", reportMonth, "monthly",
          s"monthly_$reportMonth.pdf", pdf))
      pdf
    }
    val sec = (System.nanoTime() - t0) / 1e9
    monthlyMd = md
    pdfOk = java.util.Arrays.equals(SmtpSink.attachment(smtp.take()), pdf)
    lastCounters = Map("reporting.pdf_bytes" -> pdf.length.toDouble)
    sec
  }

  override def counters: Map[String, Double] = lastCounters
  def lastRows: Long = lastLanded.map(_.lines.size.toLong).sum

  /** Lake bytes added per line item landed since timing started. */
  def outBytesPerRow: Double = (dirBytes(cfg.lakeRoot) - lakeBytesBefore).toDouble / timedRows

  private def dirBytes(root: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }

  def checks(): Seq[(String, Boolean)] = {
    val want = (history ++ daily.flatten).filter(_.epochMs <= stub.clockMs)
    val wantRows = want.map(_.lines.size.toLong).sum
    val dedup = Lake.dedupView(spark, cfg.lakeRoot)
      .agg(count(lit(1)), sum(col("total_money").cast("decimal(38,2)"))).head()
    val wm = new StateStore(cfg.statePath).readLastTimestamp()
    val lake = Lake.read(spark, compacted)
    val dupKeys = lake.groupBy(col("receipt_number"), col("item_name")).count()
      .filter(col("count") > 1).count()
    val month = want.filter(_.shiftedMonth == reportMonth)
    def money(x: Double): String = f"$$$x%,.2f"
    Seq(
      "pos.dedup_rows_eq_generated" -> (dedup.getLong(0) == wantRows),
      "pos.dedup_money_eq_generated" ->
        (dedup.getDecimal(1).compareTo(java.math.BigDecimal.valueOf(want.map(_.total).sum)) == 0),
      "pos.watermark_eq_newest_served" -> stub.maxServedUpdatedAt.contains(wm),
      "pos.compacted_unique_keys" -> (dupKeys == 0L),
      "pos.compacted_rows_eq_dedup_view" -> (lake.count() == dedup.getLong(0)),
      "pos.monthly_revenue" ->
        monthlyMd.contains(s"| Revenue | ${money(month.map(_.total).sum.toDouble)} |"),
      "pos.monthly_receipts" -> monthlyMd.contains(s"| Receipts | ${month.size} |"),
      "pos.pdf_at_sink_eq_rendered" -> pdfOk)
  }

  override def close(): Unit = {
    if (stub != null) stub.stop()
    smtp.stop()
  }
}
