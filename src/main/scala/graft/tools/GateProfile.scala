package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Round-17 optimization harness: per-gate wall, Spark JOB count and
  * shuffle bytes under the EXACT bench methodology (same session conf,
  * same table/posify/memo warm-up, count() action), so a change's
  * before/after is attributable to the gate and not to harness drift.
  *
  * The job count matters on this host class: the round-17 t15/sa4 drift
  * attribution (PLANS.md) measured 0.095–0.15 s of fixed per-job cost,
  * so a memo-served gate's warm wall is ~njobs × that — job-count
  * reduction IS the optimization lever for the multi-action chains
  * (and fewer barriers is the same win on a cluster).
  *
  * Each rep first prints one line per Spark job it ran — wall, summed
  * task time, the job description and the job's stage names — so a
  * multi-action gate's cost can be pinned to the action that pays it,
  * then the rep's per-gate JSON line. Rep 0 is the cold run.
  *
  * Usage: runMain graft.tools.GateProfile <sfDir> <reps> <gate> [gate ...]
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val gates: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("e22_hnsw_search")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    case class J(start: Long, desc: String, stages: Seq[Int])
    val live = new ConcurrentHashMap[Int, J]()
    val stageTask = new ConcurrentHashMap[Int, Long]()
    val stageName = new ConcurrentHashMap[Int, String]()
    val jobLines = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        live.put(j.jobId, J(System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse(""),
          j.stageIds.map(_.toInt)))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskMs.addAndGet(m.executorRunTime)
          stageTask.put(s.stageInfo.stageId, m.executorRunTime)
        }
        stageName.put(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n').take(80))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = live.remove(e.jobId)
        if (j != null) {
          val wall = (System.nanoTime() - j.start) / 1e9
          val task = j.stages.map(sid => stageTask.getOrDefault(sid, 0L)).sum / 1e3
          val names = j.stages.flatMap(sid => Option(stageName.get(sid)))
            .distinct.mkString("; ").replace("\"", "'")
          jobLines.add(f"""{"job":${e.jobId},"wall":$wall%.3f,"task_sec":$task%.2f,"desc":"${j.desc.replace("\"", "'")}","stages":"$names"}""")
        }
      }
    })

    // Bench-identical warm-up: tables, posify cache, cross-gate memos.
    Seq(
      graft.Tables.lineitem _, graft.Tables.orders _, graft.Tables.customer _,
      graft.Tables.part _, graft.Tables.nation _, graft.Tables.region _,
      graft.Tables.supplier _, graft.Tables.events _, graft.Tables.documents _,
      graft.Tables.embeddings _)
      .foreach { load =>
        try load(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    try {
      val pos = graft.queries.PosQueries.posify(spark, sfDir)
      pos.cache(); pos.count()
    } catch { case scala.util.control.NonFatal(_) => () }
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_MEMO_WARMUP", "1") == "1") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(graft.queries.SimQueries.warmMemos(spark, sfDir)),
        Future(graft.queries.DedupQueries.warmMemos(spark, sfDir)),
        Future(graft.queries.TextQueries.warmMemos(spark, sfDir)))), 30.minutes)
      System.err.println("[profile] memo warm-up done")
    }

    def one(name: String, rep: Int): Unit = {
      val fn = graft.SparkEntry.queries(name)
      jobs.set(0); shufR.set(0); shufW.set(0); taskMs.set(0); jobLines.clear()
      spark.sparkContext.setJobDescription(s"profile:$name rep=$rep")
      val s = System.nanoTime()
      val n = try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}"); -1L }
      val sec = (System.nanoTime() - s) / 1e9
      Thread.sleep(400) // listener drain
      jobLines.forEach(l => println(l))
      println(f"""{"gate":"$name","rep":$rep,"sec":$sec%.3f,"jobs":${jobs.get},"shuffle_read_mb":${shufR.get / 1e6}%.1f,"shuffle_write_mb":${shufW.get / 1e6}%.1f,"task_sec":${taskMs.get / 1e3}%.1f,"rows":$n}""")
    }

    gates.foreach { g => (0 until reps).foreach(r => one(g, r)) }
    spark.stop()
  }
}
