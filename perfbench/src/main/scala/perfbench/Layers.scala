package perfbench

import scala.collection.mutable

/** Per-layer breakdown of a traced run.
  *
  * Layers are the engine modules the benchmark calls into. A Spark job
  * belongs to the layer of the innermost benchmark span open when it was
  * submitted; inside `Pipeline.dailyRun`, which is one call from the
  * outside, the source file in the job's call site (`count at
  * Receipts.scala:48`) splits the work further: `Receipts.scala` /
  * `PosApiClient.scala` jobs are `ingest`, `Lake.scala` /
  * `Transform.scala` jobs are `pos.Lake.append`.
  * Stages follow their job, and a query's planning time and written
  * files follow the first job of its SQL execution (or, for a query
  * that ran no job, the innermost span open when it started).
  */
object Layers {

  /** Each layer with the metrics it reports: the generic ones it has
    * work for, then its own counters (filled in by the workloads).
    */
  val metrics: Seq[(String, Seq[String])] = Seq(
    "ingest" -> Seq("jobs", "tasks", "task_s", "planning_s", "result_bytes",
      "http_requests", "http_bytes", "http_s", "kept_ratio"),
    "pos.Pipeline" -> Seq("wall_s", "self_s", "jobs", "stages", "task_s", "planning_s", "driver_s"),
    "pos.Lake.append" -> Seq("jobs", "stages", "tasks", "task_s", "planning_s", "shuffle_bytes",
      "output_bytes", "output_files"),
    "pos.Lake.compact" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "planning_s",
      "driver_s", "shuffle_bytes", "input_bytes", "output_bytes", "output_files"),
    "pos.Reports.monthly" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s",
      "planning_s", "driver_s", "shuffle_bytes", "input_bytes", "result_bytes"),
    "pos.Reports.cumulative" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s",
      "planning_s", "driver_s", "shuffle_bytes", "input_bytes", "result_bytes"),
    "reporting" -> Seq("wall_s", "pdf_bytes"),
    "text.TextOps" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "planning_s",
      "driver_s", "shuffle_bytes", "output_bytes", "output_files"),
    "dedup" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "planning_s",
      "driver_s", "shuffle_bytes", "result_bytes", "candidate_pairs", "pair_yield"),
    "text.SuffixArray" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s",
      "planning_s", "driver_s", "shuffle_bytes", "result_bytes", "removed_chars"),
    "text.NgramLm" -> Seq("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "planning_s",
      "driver_s", "shuffle_bytes", "result_bytes", "kept_token_share"))

  def unit(metric: String): String = metric.substring(metric.lastIndexOf('.') + 1) match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "bytes"
    case "kept_ratio" | "pair_yield" | "kept_token_share" => "ratio"
    case _ => "count"
  }

  private val SourceFile = "([A-Za-z0-9_$]+)\\.scala".r

  private def refine(spanLayer: String, callSite: String): String =
    if (spanLayer != "pos.Pipeline") spanLayer
    else SourceFile.findFirstMatchIn(callSite).map(_.group(1)) match {
      case Some("Receipts" | "PosApiClient") => "ingest"
      case Some("Lake" | "Transform") => "pos.Lake.append"
      case _ => spanLayer
    }

  /** Sum of the parts of `[lo, hi)` not covered by `cover` (ms intervals). */
  private def uncovered(lo: Long, hi: Long, cover: Seq[(Long, Long)]): Long = {
    var t = lo
    var free = 0L
    cover.filter { case (a, b) => b > lo && a < hi }.sortBy(_._1).foreach { case (a, b) =>
      if (a > t) free += math.min(a, hi) - t
      t = math.max(t, math.min(b, hi))
    }
    free + math.max(0L, hi - t)
  }

  /** Per-layer metrics for each traced step: step span id → metric → value.
    * `counters` holds the workload's own per-step counters.
    */
  def perStep(tr: Tracer, counters: Map[Int, Map[String, Double]]): Map[Int, Map[String, Double]] = {
    val spans = tr.spans
    val byId = spans.map(s => s.id -> s).toMap
    def stepOf(id: Int): Int = byId.get(id) match {
      case Some(s) if s.layer == "step" => s.id
      case Some(s) => stepOf(s.parent)
      case None => 0
    }
    val acc = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
    def add(step: Int, layer: String, m: String, v: Double): Unit = acc((step, layer + "." + m)) += v

    val children = spans.groupBy(_.parent)
    spans.filter(_.layer != "step").foreach { s =>
      val step = stepOf(s.id)
      val kids = children.getOrElse(s.id, Nil)
      add(step, s.layer, "wall_s", s.seconds)
      add(step, s.layer, "self_s", s.seconds - kids.map(_.seconds).sum)
    }
    val jobs = tr.jobs
    val jobIntervals = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
    // Driver time: a span's own interval (children cut out) with no job running.
    spans.filter(_.layer != "step").foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val own = uncovered(s.startMs, s.endMs, kids)
      val busy = own - uncovered(s.startMs, s.endMs, kids ++ jobIntervals)
      add(stepOf(s.id), s.layer, "driver_s", (own - busy) / 1000.0)
    }
    val jobLayer = jobs.map { j =>
      j.id -> (stepOf(j.span), refine(byId.get(j.span).map(_.layer).getOrElse("none"), j.callSite))
    }.toMap
    jobs.foreach { j => val (st, l) = jobLayer(j.id); add(st, l, "jobs", 1) }
    tr.stages.foreach { s =>
      jobLayer.get(s.job).foreach { case (st, l) =>
        add(st, l, "stages", 1)
        add(st, l, "tasks", s.tasks)
        add(st, l, "task_s", s.taskMs / 1000.0)
        add(st, l, "shuffle_bytes", s.shuffleBytes)
        add(st, l, "input_bytes", s.inputBytes)
        add(st, l, "output_bytes", s.outputBytes)
        add(st, l, "result_bytes", s.resultBytes)
      }
    }
    val execJob = jobs.filter(_.execId.isDefined).groupBy(_.execId.get).map { case (e, js) => e -> js.minBy(_.id) }
    tr.queries.foreach { q =>
      val exec = tr.executionOf(q.queryId)
      val where = exec.flatMap(execJob.get).map(j => jobLayer(j.id)).orElse {
        exec.flatMap(tr.executionStartMs).flatMap { t =>
          val open = spans.filter(s => s.layer != "step" && s.startMs <= t && t <= s.endMs)
          if (open.isEmpty) None else { val s = open.maxBy(_.startMs); Some(stepOf(s.id) -> s.layer) }
        }
      }
      where.foreach { case (st, l) =>
        add(st, l, "planning_s", q.planningMs / 1000.0)
        add(st, l, "output_files", q.outputFiles)
      }
    }
    counters.foreach { case (st, cs) => cs.foreach { case (k, v) => acc((st, k)) += v } }
    acc.toSeq.groupBy(_._1._1).map { case (st, kvs) => st -> kvs.map { case ((_, k), v) => k -> v }.toMap }
  }
}
