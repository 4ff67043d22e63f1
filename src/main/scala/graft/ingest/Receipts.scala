package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pos.Schemas

/** Distributed parsing of raw API payloads: the driver hands Spark raw
  * JSON strings; `from_json`/`spark.read.json` does the deserialization
  * on executors against the declared schema (S5 semantics — schema-on-
  * read for the raw zone, SURVEY §1.4).
  */
object Receipts {

  /** API envelope: `{"receipts": [...], "cursor": <opt>}`. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("receipts", ArrayType(Schemas.rawReceipt)),
    StructField("cursor", StringType)))

  /** Page bodies → one row per receipt. */
  def fromPages(spark: SparkSession, pages: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(envelopeSchema).json(pages.toDS)
      .select(explode(col("receipts")).as("r"))
      .select(col("r.*"))
  }

  /** Page-body DataFrame (e.g. the `pos-receipts` DataSource V2 output)
    * → one row per receipt. Same schema-on-read parse as [[fromPages]],
    * but the bodies never touch the driver.
    */
  def fromBodies(bodies: DataFrame): DataFrame = {
    val spark = bodies.sparkSession
    import spark.implicits._
    spark.read.schema(envelopeSchema).json(bodies.select(col("body")).as[String])
      .select(explode(col("receipts")).as("r"))
      .select(col("r.*"))
  }

  /** W9 — client-side watermark filter: `created_at > last_ts`
    * (ISO-8601 strings compare correctly lexicographically).
    */
  def newerThan(receipts: DataFrame, lastTimestamp: String): DataFrame =
    receipts.filter(col("created_at").isNotNull && col("created_at") > lit(lastTimestamp))

  /** S5 — raw JSON file source (a saved array of receipt documents). */
  def fromRawFile(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(Schemas.rawReceipt).json(path)
}
