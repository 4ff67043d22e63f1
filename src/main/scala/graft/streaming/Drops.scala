package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}

/** The drop-folder contract every streaming twin runs on: arrivals
  * land as files in a drop dir, each file is ONE micro-batch, and an
  * AvailableNow trigger drains what is there and stops — the daily
  * micro-batch. The checkpoint numbers the batches, so a restarted
  * stream skips completed files and a crash re-delivers the same
  * batch id; each twin's `processBatch` turns that id into an
  * idempotent claim ([[StateTables]]).
  *
  * Arrivals are read with a declared schema (extra columns in a drop
  * file are ignored): one of the three below.
  */
object Drops {

  /** `(doc_id, text)` document arrivals. */
  val docs: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** `(doc_id, source, text)` document arrivals with their domain. */
  val sourcedDocs: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** `(vec_id, embedding)` vector arrivals. */
  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** One drop file per micro-batch: the twins' replay and
    * stream ≡ batch contracts are stated per arriving file.
    */
  private val FilesPerTrigger = 1

  /** Start `processBatch` over the `format` ("json" or "parquet")
    * files of `dropDir`, read with `schema`.
    */
  def start(
      spark: SparkSession,
      dropDir: String,
      schema: StructType,
      checkpoint: String,
      format: String = "json")(processBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .format(format)
      .load(dropDir)
      .writeStream
      .foreachBatch(processBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
