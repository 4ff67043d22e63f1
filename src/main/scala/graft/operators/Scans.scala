package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism guard for COMPUTE-AMPLIFICATION sites (optimization
  * r17; guide §2.5 input skew / §1.2 algorithm shape).
  *
  * A small parquet table arrives as ONE scan split, and Spark runs all
  * narrow work — explodes, per-window digests, per-row code searches,
  * broadcast-cross-join scoring — inside that single scan task. Every
  * site that multiplies per-row work by a large factor (k-gram md5s per
  * character, m×k codeword distances per vector, |queries| distances
  * per corpus row, pair edit-distances per block) therefore serializes
  * on one core exactly where the engine should be using all of them:
  * measured at sf0.1, x4 spent 3.3 s of its 3.5 s wall in one task, the
  * exact-GT panel 30+ s single-task inside e16.
  */
object Scans {

  /** Hash-repartition `df` to the session shuffle width IFF the
    * optimizer's size estimate fits inside one scan split (i.e. the
    * relation cannot have meaningful scan parallelism). The exchange
    * this inserts moves at most one split's worth of bytes — trivially
    * cheap next to the amplified compute it parallelizes — and at real
    * scale the estimate exceeds the split size, the test fails, and the
    * plan is untouched (no gratuitous corpus exchange; guide §2.4).
    * Size estimates, not `.rdd`, so nothing materializes early under
    * AQE. Joins inflate size estimates multiplicatively, so derived
    * frames simply never spread — conservative in exactly the safe
    * direction.
    */
  def spreadSmall(df: DataFrame, key: Column*): DataFrame =
    if (statsBlind(df)) df
    else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key: _*)

  /** True when the optimizer can NOT prove `df` small (one scan
    * split): eagerly checkpointed frames (LogicalRDD reports the
    * default huge size) and join-derived frames (multiplicative
    * estimates) land here. This is the complement gate to
    * [[spreadSmall]]: a width pin on an amplified downstream is only
    * worth planning AROUND the optimizer when the optimizer is blind —
    * where stats are visible and small, its broadcast/coalesce choices
    * measured FASTER than a forced exchange (r18: pinning e19's
    * parquet-backed candidates join cost +0.45 s while the same pin
    * saved 1–3 s on the checkpoint-backed e19b/e19c/e22/e24 builds).
    */
  def statsBlind(df: DataFrame): Boolean = !(try {
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
  } catch { case scala.util.control.NonFatal(_) => false })

  /** Runs `body` with a setter for this thread's Spark job description,
    * then restores the caller's. Operators name their jobs through it
    * (every [[DriverBound]] switch's `<operator>: path=… bound=…`), so
    * an event log ties each job to the operator and the path that
    * launched it.
    */
  def labelled[T](spark: SparkSession)(body: (String => Unit) => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    try body(d => sc.setJobDescription(d)) finally sc.setJobDescription(prev)
  }
}
