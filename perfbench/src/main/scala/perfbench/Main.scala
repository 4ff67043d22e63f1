package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload of the benchmark: a closed loop with one client that
  * runs `step` after `step`, each only once the previous one finished.
  */
trait Workload {
  /** Generate the inputs and build everything the steps need. */
  def setup(): Unit
  /** Untimed steps run before timing starts (at least one when tracing,
    * so traced and untraced steps compare warm against warm).
    */
  def warmSteps: Int
  /** Steps an untraced run times. The count is fixed, not the time: a
    * process is still warming up while it is measured, so a run that
    * fitted more steps into its time would report a warmer median.
    */
  def timedSteps: Int
  /** Traced steps of a traced run, which also runs as many untraced
    * ones; a fixed count, so that counts repeat exactly for one seed.
    */
  def tracedSteps: Int
  /** Whether step `i` can still run (inputs are generated up front). */
  def hasStep(i: Int): Boolean = true
  /** Run step `i`; returns its latency in seconds (glue excluded). */
  def step(i: Int): Double
  /** The closing job run once after the last step, if the workload has
    * one; it returns its latency in seconds.
    */
  def finish: Option[() => Double] = None
  /** The workload's own per-layer counters for the last step. */
  def counters: Map[String, Double] = Map.empty
  /** Rows the last step processed (for rows per second). */
  def lastRows: Long
  /** Called once, right before the first timed step. */
  def timingStarts(): Unit = ()
  /** Bytes written per output row since timing started. */
  def outBytesPerRow: Double
  /** Output checks: name → passed. */
  def checks(): Seq[(String, Boolean)]
  def close(): Unit = ()
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int, result: Path, spans: Option[Path])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cores").toInt, Paths.get(need("result")),
      m.get("spans").map(Paths.get(_)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full collections, in MB: the smallest of five
    * rounds, since Spark's ContextCleaner drops the blocks of unreachable
    * cached data on its own thread only after a collection finds them.
    */
  private def liveHeapMb(): Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${a.workload}")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark)
    val wl: Workload = a.workload match {
      case "pos" => new PosPipeline(spark, a.work, a.seed, tr, a.trace)
      case "curation" => new Curation(spark, a.work, a.seed, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      val s0 = System.nanoTime()
      wl.setup()
      val setupS = (System.nanoTime() - s0) / 1e9
      val heapAfterSetup = liveHeapMb()
      val warmSteps = if (a.trace) math.max(1, wl.warmSteps) else wl.warmSteps
      val warm = (0 until warmSteps).map(wl.step)

      // Timed loop. With tracing, untraced and traced steps interleave so
      // the two medians give the tracing overhead in the same process.
      wl.timingStarts()
      val untraced = mutable.ArrayBuffer.empty[Double]
      var untracedRows = 0L
      val traced = mutable.ArrayBuffer.empty[(Int, Double)] // step span id, latency
      val counters = mutable.Map.empty[Int, Map[String, Double]]
      var attemptedOps = 0
      var failedOps = 0
      /** Run `body` as one operation, traced or not; its latency, if it ran. */
      def op(tracing: Boolean, what: String)(body: => Double): Option[Double] = {
        attemptedOps += 1
        tr.setEnabled(tracing)
        try {
          if (!tracing) Some(body)
          else {
            var lat = 0.0
            tr.span("step") { lat = body }
            val id = tr.spans.last.id
            traced += id -> lat
            counters(id) = wl.counters
            Some(lat)
          }
        } catch {
          case e: Exception =>
            failedOps += 1
            System.err.println(s"[perfbench] $what failed: $e")
            e.printStackTrace()
            None
        } finally tr.setEnabled(false)
      }
      val planned = if (a.trace) 2 * wl.tracedSteps else wl.timedSteps
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var i = warmSteps
      // `--seconds` is only a floor: the fixed step counts take longer.
      while ((i - warmSteps < planned || System.nanoTime() < deadline) &&
          failedOps == 0 && wl.hasStep(i)) {
        // untraced, traced, traced, untraced, ... so that neither side
        // always runs first while the process is still warming up
        val tracing = a.trace && Set(1, 2)((i - warmSteps) % 4)
        val lat = op(tracing, s"step $i")(wl.step(i))
        if (!tracing) lat.foreach { l => untraced += l; untracedRows += wl.lastRows }
        i += 1
      }
      val finish = wl.finish.filter(_ => failedOps == 0)
        .flatMap(f => op(a.trace, "closing job")(f()))
      val heapAtEnd = liveHeapMb()
      val checks = try wl.checks() catch {
        case e: Exception =>
          e.printStackTrace()
          Seq("checks.ran" -> false)
      }
      checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
      val attempted = attemptedOps + checks.size
      val failed = failedOps + checks.count(!_._2)

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", sessionS + setupS, "s"),
          ("step_p50_s", median(untraced.toSeq), "s"),
          ("total_s", untraced.sum + finish.getOrElse(0.0), "s"),
          ("rows_per_s", untracedRows / untraced.sum, "1/s"),
          ("out_bytes_per_row", wl.outBytesPerRow, "bytes/row"),
          ("live_heap_mb", math.max(heapAfterSetup, heapAtEnd), "MB"),
          ("ok_frac", (attempted - failed).toDouble / attempted, "ratio"))
        else {
          val perStep = Layers.perStep(tr, counters.toMap)
          val stepIds = traced.map(_._1).toSeq
          val spans = tr.spans.map(s => s.id -> s).toMap
          val kids = tr.spans.groupBy(_.parent)
          val glue = stepIds.map(id => spans(id).seconds - kids.getOrElse(id, Nil).map(_.seconds).sum)
          // A layer's figures are per-step means over the traced steps it
          // worked in: every day for the daily layers, the one closing job
          // for the month-end layers.
          val layer = Layers.metrics.flatMap { case (l, ms) =>
            val worked = stepIds.map(perStep.getOrElse(_, Map.empty[String, Double]))
              .filter(m => ms.exists(x => m.getOrElse(s"$l.$x", 0.0) != 0.0))
            ms.map { m =>
              val k = s"$l.$m"
              (k, if (worked.isEmpty) 0.0 else worked.map(_.getOrElse(k, 0.0)).sum / worked.size,
                Layers.unit(k))
            }
          }
          // The traced and untraced step medians, the tracing overhead (their
          // difference), and the part of a traced step no layer span covers.
          val tMed = median(traced.take(wl.tracedSteps).map(_._2).toSeq)
          val uMed = median(untraced.toSeq)
          layer ++ Seq(
            ("trace.step_s", tMed, "s"), ("trace.untraced_step_s", uMed, "s"),
            ("trace.overhead_s", tMed - uMed, "s"), ("trace.glue_s", glue.sum / glue.size, "s"))
        }
      System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} setup=$setupS%.2f " +
        f"session=$sessionS%.2f warm=${warm.map(x => f"$x%.2f").mkString(",")} " +
        s"steps untraced=${untraced.size} traced=${traced.size} " +
        f"p50=${median(untraced.toSeq)}%.3f max=${untraced.maxOption.getOrElse(Double.NaN)}%.3f " +
        s"latencies=${untraced.map(x => f"$x%.3f").mkString(",")}")
      val json = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
      if (a.trace) a.spans.foreach(writeSpans(tr, _))
      Files.writeString(a.result,
        s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    } finally {
      wl.close()
      spark.stop()
    }
  }

  /** The traced run's spans and jobs, one JSON object a line; times in
    * seconds from the first span's start.
    */
  private def writeSpans(tr: Tracer, path: Path): Unit = {
    val t0 = tr.spans.map(_.startNs).minOption.getOrElse(0L)
    val m0 = tr.spans.map(_.startMs).minOption.getOrElse(0L)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = tr.spans.map(s =>
      f"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${q(s.layer)}, """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f}""") ++
      tr.jobs.map(j =>
        f"""{"job": ${j.id}, "span": ${j.span}, "call_site": ${q(j.callSite)}, """ +
          f""""start_s": ${(j.startMs - m0) / 1e3}%.3f, "end_s": ${(j.endMs - m0) / 1e3}%.3f}""")
    Files.write(path, lines.asJava)
  }
}
