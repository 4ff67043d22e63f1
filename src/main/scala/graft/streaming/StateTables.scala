package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE state-table discipline every incremental curation stream
  * shares: a parquet table PARTITIONED BY batch, claimed per
  * micro-batch with INSERT OVERWRITE ([[claim]]) so a crash-replayed
  * batch re-derives its base from `batch < id` partitions only
  * ([[before]]) and overwrites its own claim — byte-idempotent replay.
  * Frozen-generation readers take the newest generation ([[latest]]);
  * directory-kept generations (`rebuild=<n>`) are found by
  * [[latestRebuild]].
  *
  * Durability across JVMs: the table DATA lives in the warehouse dir
  * and survives a restart even when the catalog (default in-memory)
  * does not. `ensure` therefore re-adopts an existing location instead
  * of deleting it: CREATE TABLE over the path, then `MSCK REPAIR
  * TABLE` to recover the batch partitions a previous JVM wrote — the
  * catalog-repair contract (reference `main.py:63-75`) applied to
  * streaming state. Wiping the location here would silently zero the
  * admission base while the stream checkpoint still skips completed
  * batches — the one combination that over-admits.
  */
object StateTables {

  /** Ensure `name` exists with the given column DDL (which must
    * include the `batch BIGINT` partition column last), re-adopting
    * any data a previous JVM left in the warehouse location.
    */
  def ensure(
      spark: SparkSession,
      name: String,
      columnsDdl: String,
      bucketDdl: String = ""): Unit =
    if (!spark.catalog.tableExists(name)) {
      // EXTERNAL-style (explicit LOCATION at the default warehouse
      // path): Spark refuses a MANAGED create over an existing
      // location, which is exactly the restart case we must support
      val locPath = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
      val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(locPath)) fs.mkdirs(locPath) // fresh start: empty state dir
      val loc = locPath.toString
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name ($columnsDdl)
           |USING PARQUET
           |PARTITIONED BY (batch)
           |$bucketDdl
           |LOCATION '$loc'""".stripMargin)
      // recover partitions written by a previous JVM (no-op when fresh)
      spark.sql(s"MSCK REPAIR TABLE $name")
    }

  /** Claim partition `batch = batchId` of `name` with `rows` (which
    * must carry the table's data columns by name; extra columns are
    * ignored). A static-partition INSERT OVERWRITE: a replayed claim
    * rewrites exactly its own partition, byte-identically, and never
    * touches another batch. `rows` must not read `name` itself —
    * checkpoint first when it does. The temp view is private to the
    * call, so concurrent claims on one session cannot collide.
    */
  def claim(name: String, batchId: Long, rows: DataFrame): Unit = {
    val spark = rows.sparkSession
    val cols = spark.table(name).columns.filter(_ != "batch").map(c => s"`$c`")
    val view = s"__claim_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    rows.createOrReplaceTempView(view)
    try spark.sql(
      s"""INSERT OVERWRITE TABLE $name PARTITION (batch = $batchId)
         |SELECT ${cols.mkString(", ")} FROM $view""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** The generations a replay of `batchId` may read: every batch
    * strictly before it (partition-pruned — its own, possibly
    * half-written, partition and all later ones are invisible).
    */
  def before(spark: SparkSession, name: String, batchId: Long): DataFrame =
    spark.table(name).where(col("batch") < lit(batchId))

  /** The rows of the newest generation in `gens` (a state table or a
    * [[before]] slice of one); no rows when `gens` holds none.
    */
  def latest(gens: DataFrame): DataFrame = {
    val newest = gens.agg(coalesce(max(col("batch")), lit(-1L))).head().getLong(0)
    gens.where(col("batch") === newest)
  }

  /** Newest `rebuild=<n>` generation under `dir` (−1 when no rebuild
    * has run) — the directory-kept twin of [[latest]].
    */
  def latestRebuild(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) -1L
    else fs.listStatus(path).map(_.getPath.getName)
      .collect { case s if s.startsWith("rebuild=") => s.stripPrefix("rebuild=").toLong }
      .foldLeft(-1L)(math.max)
  }
}
