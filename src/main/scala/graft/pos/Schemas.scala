package graft.pos

import org.apache.spark.sql.types._

/** Canonical schemas for the POS line-item engine.
  *
  * Raw receipt document: reference `etl/transform.py:30-60` (field access)
  * and `etl/extract.py:299-344` (cursor fields). Curated table: reference
  * `schemas.py:5-20`. Money stays DoubleType and `date`/`time` stay
  * strings for reference parity (SURVEY §7.4 items 3, 7).
  */
object Schemas {

  val lineModifier: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("option", StringType)))

  val lineItem: StructType = StructType(Seq(
    StructField("item_name", StringType),
    StructField("cost", DoubleType),
    StructField("price", DoubleType),
    StructField("total_money", DoubleType),
    StructField("line_modifiers", ArrayType(lineModifier))))

  val payment: StructType = StructType(Seq(
    StructField("type", StringType)))

  /** Schema for one raw receipt document (the element type of the API's
    * `receipts` array).
    */
  val rawReceipt: StructType = StructType(Seq(
    StructField("receipt_number", StringType),
    StructField("receipt_date", StringType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("order", StringType),
    StructField("payments", ArrayType(payment)),
    StructField("line_items", ArrayType(lineItem))))

  /** Curated line-item table (reference `schemas.py:5-20`); Spark
    * timestamps are microsecond vs the reference's Arrow ns — source data
    * is second-granular so this is lossless.
    */
  val curated: StructType = StructType(Seq(
    StructField("receipt_number", StringType),
    StructField("datetime", TimestampType),
    StructField("date", StringType),
    StructField("time", StringType),
    StructField("order_type", StringType),
    StructField("item_name", StringType),
    StructField("cost", DoubleType),
    StructField("price", DoubleType),
    StructField("total_money", DoubleType),
    StructField("modifiers", StringType),
    StructField("payment_type", StringType),
    StructField("shifted_time", TimestampType),
    StructField("minutes_past_midnight", LongType),
    StructField("time_slot", StringType)))

  val curatedColumns: Seq[String] = curated.fieldNames.toSeq

  /** The curated columns that hold one value per receipt (near-unique
    * across receipts, repeated only on its line items); the lake writes
    * them without a dictionary ([[Lake]]).
    */
  val receiptLevel: Seq[String] = Seq(
    "receipt_number", "datetime", "date", "time", "shifted_time", "minutes_past_midnight")

  /** Hive-style partition keys at rest (reference `load.py:72-94`). */
  val partitionKeys: Seq[String] = Seq("year", "month")
}
