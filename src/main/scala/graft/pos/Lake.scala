package graft.pos

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** K4/K5 — the partitioned parquet lake (reference `etl/load.py:52-224`),
  * and the one place that decides how it is laid out on disk: every
  * writer of the lake, batch or stream, goes through this object.
  *
  * Layout: Hive-style `year=YYYY/month=MM` derived from `shifted_time` —
  * partition pruning makes the monthly report's two-partition read free
  * (reference relies on Athena for the same). Each curated column is
  * cast to its [[Schemas.curated]] type, and every writer carries the
  * same page layout, [[pageLayout]], set on the writer rather than read
  * from the session's parquet confs:
  *   - pages are compressed with zstd;
  *   - the receipt-level columns ([[Schemas.receiptLevel]]) are
  *     plain-encoded: they are near-unique per receipt and repeat only
  *     across one receipt's consecutive line items, runs that zstd packs
  *     tighter than dictionary indices; the categorical columns keep
  *     their dictionaries;
  *   - no min/max column statistics (nor the column index built from
  *     them) are written: every reader of the lake prunes on the
  *     `year=/month=` directories, and none filters on a data column
  *     that row-group statistics could skip.
  * Page CRCs stay on. The reference's pandas/PyArrow writer uses snappy,
  * dictionaries on every column and statistics; this layout stores the
  * same values in fewer bytes, and parquet records codec and encoding
  * per column chunk, so a lake whose older files carry the reference's
  * layout reads back the same values.
  *
  * The write modes still mirror the reference exactly (SURVEY §2.2 K5);
  * the page layout above is the one part of the layout that does not:
  *   - [[writeFull]]       — K4 full overwrite (historical load).
  *   - [[appendIncrement]] — K5's ACTUAL behavior: append-only new rows,
  *     duplicates tolerated, exactly-once restored read-side by
  *     [[Analytics.dedupLatest]] (V1). [[appendStream]] is its
  *     streaming form.
  *   - [[compactTo]]       — K5's INTENDED behavior as a maintenance job:
  *     dedup + rewrite with dynamic partition overwrite, through
  *     [[overwriteMonths]], which the streaming merge shares.
  *
  * At scale: `partitionBy(year, month)` gives writers one directory per
  * month, and each write task opens one file per month it touches.
  * [[writeFull]] and [[overwriteMonths]] write frames of many partitions
  * that each span many months, so they repartition on the partition
  * keys first to avoid the many-small-files explosion (each of N tasks
  * writing M months). [[appendIncrement]] takes its input's
  * partitioning as it is.
  */
object Lake {

  /** Parquet writer options of every lake file: zstd pages, no column
    * statistics, and no dictionary on the receipt-level columns.
    */
  private val pageLayout: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.column.statistics.enabled" -> "false") ++
    Schemas.receiptLevel.map(c => s"parquet.enable.dictionary#$c" -> "false")

  /** Each curated column cast to its [[Schemas.curated]] type (a no-op
    * on a correctly typed frame; a null-typed or int-typed column would
    * otherwise land in parquet as BOOLEAN or INT32 and break every later
    * read of the lake), then the partition keys as they are.
    */
  private def laidOut(df: DataFrame): DataFrame =
    df.select(Schemas.curated.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
      Schemas.partitionKeys.map(col): _*)

  /** Curated rows as the lake stores them: the curated columns, cast,
    * then `year`/`month` derived from `shifted_time`.
    */
  def prepared(df: DataFrame): DataFrame =
    laidOut(df
      .withColumn("year", date_format(col("shifted_time"), "yyyy"))
      .withColumn("month", date_format(col("shifted_time"), "MM")))

  private def writer(rows: DataFrame): DataFrameWriter[Row] =
    rows.write.partitionBy(Schemas.partitionKeys: _*).options(pageLayout)

  /** K4 — schema-enforced full write, one directory per month. */
  def writeFull(df: DataFrame, root: String): Unit =
    // One writer task per month-partition (reference writes one
    // data.parquet per month, load.py:99-103); at 100 TB this becomes
    // repartition(year, month, <salt>) to bound file size instead.
    writer(prepared(df).repartition(col("year"), col("month")))
      .mode("overwrite")
      .parquet(root)

  /** K5(a) — append-only incremental: writes ONLY the new rows
    * (reference `load.py:223` writes `monthly_data_to_add`, not the
    * merged frame); the lake stays at-least-once and V1 dedups on read.
    *
    * No exchange: the daily batch is one page body, which parses into
    * one partition, so a day adds one file per touched month in a
    * single job; a shuffle on the partition keys would add a stage and
    * a job to every day for the same layout. A caller appending a frame
    * of many partitions should repartition it by month first.
    */
  def appendIncrement(newRows: DataFrame, root: String): Unit =
    writer(prepared(newRows)).mode("append").parquet(root)

  /** K5(a) on a stream: the append sink for curated streaming rows, in
    * the lake's layout. The caller sets the checkpoint and the trigger
    * and starts it.
    */
  def appendStream(newRows: DataFrame, root: String): DataStreamWriter[Row] =
    prepared(newRows).writeStream
      .format(classOf[LakeParquetFormat].getName)
      .option("path", root)
      .options(pageLayout)
      .partitionBy(Schemas.partitionKeys: _*)
      .outputMode("append")

  /** Rewrites exactly the months present in `rows` (lake rows, as
    * [[read]] or [[prepared]] gives them, keys included) via dynamic
    * partition overwrite; every other month's files stay untouched.
    */
  def overwriteMonths(rows: DataFrame, root: String): Unit =
    writer(laidOut(rows).repartition(col("year"), col("month")))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(root)

  /** Reads with an explicit schema so the Hive partition VALUES stay
    * strings: inference would turn `month=07` into int 7, and any
    * write-back (merge, compaction) would then create a DIFFERENT
    * `month=7` directory instead of overwriting the original partition.
    * The reference's Athena table also surfaces year/month as strings
    * (`monthly_report.py:61-63`).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val withPartitions = org.apache.spark.sql.types.StructType(
      Schemas.curated.fields ++ Schemas.partitionKeys.map(k =>
        org.apache.spark.sql.types.StructField(
          k, org.apache.spark.sql.types.StringType)))
    spark.read.schema(withPartitions).parquet(root)
  }

  /** K2 — CSV snapshot sink (reference `load.py:18-28`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)

  /** K3 — single-object parquet sink (reference `load.py:30-47`). */
  def writeSingleParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** S10 — watermark recovery by lake scan: max(shifted_time) of the
    * lexicographically-latest partition (reference `extract.py:254-296`).
    * Partition pruning keeps the scan to one month.
    */
  def latestWatermark(spark: SparkSession, root: String): Option[String] = {
    val lake = read(spark, root)
    // [[read]] pins year/month to strings, so "07" sorts and matches as
    // the directory name the writer produced.
    val latest = lake.select(col("year"), col("month")).distinct()
      .orderBy(col("year").desc, col("month").desc).limit(1).collect()
    latest.headOption.map { r =>
      lake.filter(col("year") === r.getString(0) && col("month") === r.getString(1))
        .agg(date_format(max(col("shifted_time")), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
        .collect().head.getString(0)
    }
  }

  /** Deduplicated view of the lake — V1 window, newest wins. */
  def dedupView(spark: SparkSession, root: String): DataFrame =
    Analytics.dedupLatest(read(spark, root))

  /** K5(b) — compaction: rewrite only the months present in the source,
    * deduplicated, via dynamic partition overwrite.
    */
  def compactTo(spark: SparkSession, sourceRoot: String, targetRoot: String): Unit =
    overwriteMonths(Analytics.dedupLatest(read(spark, sourceRoot)), targetRoot)
}

/** Parquet that hands its `parquet.*` writer options to parquet-mr.
  * A batch writer copies its options into the write job's Hadoop conf
  * itself; Spark's file stream sink builds that conf from the session
  * alone and reads only `compression` from its options, so
  * [[Lake.appendStream]] writes through this format to keep the lake's
  * page layout.
  */
private[pos] class LakeParquetFormat extends ParquetFileFormat {
  override def prepareWrite(
      spark: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    // The keys arrive lower-cased; the lake's column names are lower-case.
    options.foreach { case (k, v) => if (k.startsWith("parquet.")) job.getConfiguration.set(k, v) }
    super.prepareWrite(spark, job, options, dataSchema)
  }
}
