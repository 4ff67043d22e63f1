package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** STATS-SEVERING local checkpoint — the one `private[sql]` shim this
  * library needs (placed in the Spark SQL package, the standard
  * technique open-source Spark libraries use for internal access).
  *
  * WHY: since SPARK-39748, `Dataset.localCheckpoint` carries the
  * ORIGINAL plan's statistics onto the checkpoint's `LogicalRDD`
  * (`LogicalRDD.fromDataset` → `rewriteStatsAndConstraints`). For an
  * ITERATED operator that checkpoints a join output every round — the
  * suffix-array doubling loop — this compounds catastrophically:
  * size-only join estimation multiplies children's `sizeInBytes`, so
  * round k's carried stat is a product over round k−1's carried stats
  * — DOUBLE-EXPONENTIAL BigInt growth. By round 10 the `sizeInBytes`
  * is a ~60 000-bit BigInt and every Catalyst stats walk over a plan
  * referencing such frames burns driver CPU in `BigInteger.multiply`
  * (ToomCook range) — measured 80 s of pure driver stall per LCP
  * descent level at sf0.01, with ZERO running stages (thread dump:
  * `SizeInBytesOnlyStatsPlanVisitor` → `BigInt.$times`).
  *
  * The shim replicates `Dataset.localCheckpoint`'s RDD mechanics —
  * `physicalPlan.execute().map(_.copy())` + `RDD.localCheckpoint()` —
  * but builds the result `LogicalRDD` with NO carried stats or
  * constraints, so the checkpointed frame reports the honest leaf
  * default (`spark.sql.defaultSizeInBytes`) like a pre-3.4 checkpoint
  * did, and iterated plans keep O(1)-bit stats.
  *
  * Physical-layout metadata is separate from stats and is OPT-IN via
  * `keepPartitioning`: the default drops it (`UnknownPartitioning`) —
  * iterated consumers that re-key every round re-shuffle by
  * construction — but a caller whose downstream REUSES the
  * checkpointed frame's distribution (a per-pass split ladder re-read
  * by the same keys) can keep it, exactly as `Dataset.localCheckpoint`
  * does: the first leaf partitioning of the executed plan, passed
  * through unrewritten (the same convention as
  * `LogicalRDD.fromDataset`, whose partitioning argument is the
  * physical plan's — attribute ids of a checkpointed Dataset's output
  * are stable across its analyzed/executed plans).
  */
object GraftCheckpointShim {

  /** Lazily checkpoint `df` at the RDD level with fresh leaf stats;
    * the caller materializes (first action) and owns the blocks. Also
    * returns the persisted internal RDD's id — the EXACT handle
    * `graft.operators.Checkpoints` frees, so block ownership never
    * relies on diffing the context's persistent-RDD registry (which
    * raced with concurrent checkpointers). `diskOnly` stores the
    * blocks DISK_ONLY: the level tables a retained-levels suffix-array
    * build keeps alive — O(log) corpus-sized frames — otherwise
    * evict-thrash the storage pool (measured 4× the bare build at ×10
    * corpora).
    */
  def localCheckpointFreshStatsTracked(
      df: DataFrame,
      diskOnly: Boolean = false,
      keepPartitioning: Boolean = false,
      serialized: Boolean = false): (DataFrame, Int) = {
    val cds = df.asInstanceOf[CDataset[Row]]
    val spark = cds.sparkSession.asInstanceOf[CSparkSession]
    val physicalPlan = cds.queryExecution.executedPlan
    val internalRdd = physicalPlan.execute().map(_.copy())
    // RDD.localCheckpoint keeps a pre-set storage level, only forcing
    // disk into it — so persisting DISK_ONLY first sticks. `serialized`
    // stores MEMORY_AND_DISK_SER: deserialized unroll holds every row
    // as a heap object and OOM'd the default heap on 100 M-row frames
    // (the ×100 SA build — 32 concurrent 5 M-row unrolls); the
    // serialized path unrolls into byte buffers incrementally and
    // spills cleanly.
    if (diskOnly) internalRdd.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else if (serialized)
      internalRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    internalRdd.localCheckpoint()
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val partitioning =
      if (keepPartitioning) firstLeaf(physicalPlan.outputPartitioning)
      else UnknownPartitioning(0)
    (CDataset.ofRows(spark, LogicalRDD(
      cds.queryExecution.analyzed.output,
      internalRdd,
      partitioning,
      if (keepPartitioning) physicalPlan.outputOrdering else Nil,
      false,
      None)(spark, None, None)), internalRdd.id)
  }
}
