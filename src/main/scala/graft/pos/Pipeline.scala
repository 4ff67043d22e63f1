package graft.pos

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._
import graft.ingest.{PosApiClient, Receipts}

/** End-to-end pipeline orchestration — the six `main.py` step verbs
  * re-expressed as one lazy Spark plan per step (reference
  * `main.py:24-141`).
  */
object Pipeline {

  final case class Config(
      baseUrl: String,
      apiKey: String,
      lakeRoot: String,
      statePath: Path,
      rawDir: Path,
      reportDir: Path,
      receiptCap: Option[Int] = Some(150),
      pageDelayMs: Long = 500)

  def client(cfg: Config): PosApiClient =
    new PosApiClient(cfg.baseUrl, cfg.apiKey, cfg.pageDelayMs)

  /** K1 — raw zone sink (JSONL, one document per line). */
  def saveRaw(df: DataFrame, dir: Path, tag: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .json(dir.resolve(s"receipts_$tag").toString)

  /** Entry 1 — daily incremental ETL (reference `main.py:24-75`):
    * state read → incremental fetch → watermark filter → transform →
    * append-only lake write → state commit (only after a successful
    * write; at-least-once + read-side dedup).
    *
    * The append is the run's only Spark job: an [[Observation]] on the
    * filtered receipts (not line items — a receipt with no line items
    * still counts and still moves the watermark) takes the batch's row
    * count and `max(updated_at)` while the write runs. A batch with no
    * new receipts appends no rows and commits nothing. A failed append
    * throws before the observation is read; an observation that does
    * not arrive within [[observationWait]] throws too, so in both cases
    * the watermark stays and the next run re-fetches the batch.
    */
  def dailyRun(spark: SparkSession, cfg: Config): Boolean = {
    val store = new StateStore(cfg.statePath)
    val lastTs = store.readLastTimestamp()
    val api = client(cfg)
    api.fetchItems() // full refresh, unused downstream (source parity, S4)
    api.fetchIncremental(lastTs) match {
      case None => false // 402: treat as empty batch
      case Some(body) =>
        val batch = new Observation()
        val fresh = Receipts.newerThan(Receipts.fromPages(spark, Seq(body)), lastTs)
          .observe(batch, count(lit(1)).as("rows"), max(col("updated_at")).as("wm"))
        graft.operators.Scans.labelled(spark) { label =>
          label(s"Pipeline.dailyRun: append ${cfg.lakeRoot}")
          Lake.appendIncrement(Transform.run(fresh), cfg.lakeRoot)
        }
        // Observed metrics reach the driver through the listener bus,
        // after the write has returned.
        val seen =
          try Await.result(batch.future, observationWait)
          catch {
            case _: TimeoutException => throw new TimeoutException(
              s"Pipeline.dailyRun: batch observation not delivered within $observationWait " +
                s"of the append to ${cfg.lakeRoot}; watermark not committed")
          }
        // An empty row means the observed node never ran: the planner
        // proved the batch empty (AQE does so below an exchange).
        if (seen.length == 0 || seen.getAs[Long]("rows") == 0L) false
        else {
          store.commit(Option(seen.getAs[String]("wm")))
          true
        }
    }
  }

  /** Bound on the wait for [[dailyRun]]'s batch observation. */
  val observationWait: FiniteDuration = 60.seconds

  /** Entry — full historical extract to the raw zone (reference
    * `main.py:96-110`): paginated backfill, saved raw, no transform.
    */
  def fullExtract(
      spark: SparkSession,
      cfg: Config,
      startDate: String = "2025-02-20T00:00:00.000Z",
      endDate: String = "2025-09-23T04:52:31.000Z"): Long = {
    val pages = client(cfg).fetchReceiptPages(startDate, endDate, receiptCap = None)
    val receipts = Receipts.fromPages(spark, pages)
    receipts.cache()
    try {
      saveRaw(receipts, cfg.rawDir, "historical")
      // min/max created_at logging parity (reference `extract.py:99-103`)
      receipts.agg(min(col("created_at")), max(col("created_at"))).collect()
      receipts.count()
    } finally receipts.unpersist()
  }

  /** Entry — load historical raw files into the curated lake (K4). */
  def loadHistorical(spark: SparkSession, cfg: Config, rawPath: String): Unit = {
    val raw = spark.read.schema(Schemas.rawReceipt).json(rawPath)
    Lake.writeFull(Transform.run(raw), cfg.lakeRoot)
  }

  /** Entry 2 — monthly report (reference `main.py:133-134`): markdown
    * plus the K10 chart PNGs next to it, both from one lake read whose
    * per-partition summaries are merged on the driver
    * ([[Reports.monthlyWithCharts]]).
    */
  def monthlyReport(spark: SparkSession, cfg: Config, reportMonth: String,
      comparisonMonth: String): String = {
    val md = Reports.monthlyWithCharts(spark, cfg.lakeRoot, reportMonth, comparisonMonth,
      cfg.reportDir.toString)
    writeReport(cfg, s"monthly_$reportMonth.md", md)
    md
  }

  /** Entry 3 — cumulative report (reference `main.py:135-136`). */
  def cumulativeReport(spark: SparkSession, cfg: Config): String = {
    val md = Reports.cumulative(spark, cfg.lakeRoot)
    writeReport(cfg, "cumulative.md", md)
    md
  }

  private def writeReport(cfg: Config, name: String, content: String): Unit = {
    Files.createDirectories(cfg.reportDir)
    Files.writeString(cfg.reportDir.resolve(name), content)
  }

  /** Entry 4 — K9 delivery (reference `reporting/utils.py:10-50` PDF
    * conversion + `:52-96` email): render the markdown report to PDF
    * 1.4, persist it next to the markdown, and mail it as a MIME
    * attachment over SMTP. Returns the server's DATA acceptance reply;
    * failures throw — like the watermark commit, delivery state only
    * advances on success.
    */
  def emailReport(
      cfg: Config,
      md: String,
      pdfName: String,
      fileTag: String,
      frequency: String,
      smtp: graft.reporting.Emailer.SmtpConfig,
      from: String,
      to: String): String = {
    val pdf = graft.reporting.PdfRenderer.render(md)
    Files.createDirectories(cfg.reportDir)
    Files.write(cfg.reportDir.resolve(pdfName), pdf)
    graft.reporting.Emailer.send(
      smtp, graft.reporting.Emailer.reportMessage(from, to, fileTag, frequency, pdfName, pdf))
  }
}
