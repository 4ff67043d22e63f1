package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, TraceAccess}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A span around one call into a layer, timed on the driver thread. */
final case class Span(id: Int, parent: Int, layer: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(id: Int, span: Int, callSite: String, execId: Option[Long],
    startMs: Long, var endMs: Long = -1L)

final case class StageRec(job: Int, tasks: Int, taskMs: Long, shuffleBytes: Long,
    inputBytes: Long, outputBytes: Long, resultBytes: Long)

final case class QueryRec(queryId: Long, planningMs: Long, outputFiles: Long)

/** Traced-run instrumentation, all in memory until the run ends.
  *
  * Spans are opened by the benchmark around each public call it makes;
  * the innermost open span id travels to Spark as a job-local property,
  * so every job is tied to the span that launched it without relying on
  * listener timing. A [[SparkListener]] records jobs and completed
  * stages (tasks, executor run time, shuffle / input / output / result
  * bytes), and a [[QueryExecutionListener]] records each query's
  * analysis + optimization + planning time and the files its write
  * produced. When tracing is off, `span` only runs its body and no
  * listener is registered.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val lock = new Object
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = no span open
  private var nextId = 1
  private var on = false

  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesBuf = mutable.ArrayBuffer.empty[StageRec]
  private val execStartMs = mutable.HashMap.empty[Long, Long]
  private val queryExec = mutable.HashMap.empty[Long, Long]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val queriesBuf = mutable.ArrayBuffer.empty[QueryRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      // A job of a SQL execution carries that execution's call site (its
      // stages may be submitted from adaptive-execution threads); any
      // other job's result stage is named after its call site.
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(execSite.get).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobsById(e.jobId) = JobRec(e.jobId, span, site, exec, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stageJob.get(i.stageId).foreach { job =>
        stagesBuf += StageRec(job, i.numTasks, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.resultSize)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execStartMs(s.executionId) = s.time
        execSite(s.executionId) = s.description
      }
      case s: SparkListenerSQLExecutionEnd =>
        TraceAccess.queryId(s).foreach(q => lock.synchronized { queryExec(q) = s.executionId })
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val files = nodes(qe.executedPlan).collect { case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      lock.synchronized { queriesBuf += QueryRec(qe.id, planning, files) }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(nodes)
  }

  /** Start or stop recording. Listener events are drained before it stops. */
  def setEnabled(v: Boolean): Unit = if (v != on) {
    if (v) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
    }
    on = v
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = TraceAccess.waitUntilEmpty(spark.sparkContext, 60000L)

  /** Run `body` inside a span for `layer`. */
  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.head
      val prev = sc.getLocalProperty(SpanProp)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spansBuf += Span(id, parent, layer, t0, System.nanoTime(), m0, System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  def spans: Seq[Span] = spansBuf.toSeq
  def jobs: Seq[JobRec] = lock.synchronized(jobsById.values.toSeq)
  def stages: Seq[StageRec] = lock.synchronized(stagesBuf.toSeq)
  def queries: Seq[QueryRec] = lock.synchronized(queriesBuf.toSeq)
  def executionStartMs(id: Long): Option[Long] = lock.synchronized(execStartMs.get(id))
  def executionOf(queryId: Long): Option[Long] = lock.synchronized(queryExec.get(queryId))
}
