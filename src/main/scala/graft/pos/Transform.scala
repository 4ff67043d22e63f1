package graft.pos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The curated-table transform chain: flatten → homogenize → time slots
  * (reference `transform.py:199-222`). All declarative — every step is a
  * narrow projection, so the whole chain fuses into one codegen stage
  * over the scan, shuffle-free at any scale.
  */
object Transform {

  /** F1 — receipt → line-item flatten (reference `transform.py:30-60`).
    *
    * One output row per (receipt × line_items element); receipt-level
    * metadata copied onto each row; `receipt_date` split at `'T'` with the
    * trailing `'Z'` stripped; payments and modifiers `;`-joined, empty
    * modifier list → NULL. A receipt with no line items vanishes (inner
    * explode, not explode_outer — reference iterates `line_items`
    * directly). The `datetime` column at this stage is the raw ISO string
    * re-parsed downstream by [[timeSlots]], mirroring the reference's
    * two-step derivation.
    */
  def flatten(receipts: DataFrame): DataFrame = {
    val dateCol = substring_index(col("receipt_date"), "T", 1)
    val timeCol = regexp_replace(
      substring_index(col("receipt_date"), "T", -1), "Z+$", "")
    receipts
      .select(
        col("receipt_number"),
        col("receipt_date"),
        dateCol.as("date"),
        timeCol.as("time"),
        col("order").as("order_type"),
        array_join(transform(col("payments"), p => p.getField("type")), ";")
          .as("payment_type"),
        explode(col("line_items")).as("li"))
      .select(
        col("receipt_number"),
        col("date"),
        col("time"),
        col("order_type"),
        col("li.item_name").as("item_name"),
        col("li.cost").as("cost"),
        col("li.price").as("price"),
        col("li.total_money").as("total_money"),
        nullif(
          array_join(
            transform(
              col("li.line_modifiers"),
              m => concat(m.getField("name"), lit("("), m.getField("option"), lit(")"))),
            ";"),
          lit("")).as("modifiers"),
        col("payment_type"))
  }

  private def containsRule(c: Column, needle: String, value: String): Column =
    when(c.contains(needle), lit(value)).otherwise(c)

  /** C1 — production order-type homogenization (reference
    * `transform.py:101-123`): four SEQUENTIAL masked overwrites, where a
    * later rule re-fires on an earlier rule's output — `"01"` →
    * `"Para Llevar"` is then rewritten to `"Para llevar"` by the final
    * `"Llevar"` rule. The cascade is load-bearing; do not collapse into
    * one first-match CASE (that is [[homogenizeOrderTypesFirstMatch]]).
    * `contains` on NULL yields NULL → `otherwise` keeps the original,
    * matching pandas `na=False`.
    */
  def homogenizeOrderTypes(df: DataFrame): DataFrame = {
    val steps: Seq[Column => Column] = Seq(
      containsRule(_, "01", "Para Llevar"),
      containsRule(_, "-", "Mesa 2"),
      containsRule(_, "domicilio", "A domicilio"),
      containsRule(_, "Llevar", "Para llevar"))
    steps.foldLeft(df)((acc, rule) =>
      acc.withColumn("order_type", rule(col("order_type"))))
  }

  /** C2 — first-match-wins variant (reference `transform.py:125-157`,
    * np.select): documented intent, not the production path.
    */
  def homogenizeOrderTypesFirstMatch(df: DataFrame): DataFrame =
    df.withColumn(
      "order_type",
      when(col("order_type").contains("-"), "Mesa")
        .when(col("order_type").contains("domicilio"), "A domicilio")
        .when(col("order_type").contains("01"), "Para llevar")
        .when(col("order_type").contains("Llevar"), "Para llevar")
        .otherwise(col("order_type")))

  /** A10 + shifted-time derivation (reference `transform.py:171-197`):
    * re-parse `date + ' ' + time` into a naive timestamp, shift by a
    * FIXED −6h interval (deliberately not a tz conversion — the true tz
    * function is dead code in the reference, SURVEY §7.4.3), derive
    * minutes-past-midnight and the hourly left-closed slot label.
    */
  def timeSlots(df: DataFrame): DataFrame = {
    // try_ variant: malformed date/time → NULL, matching the reference's
    // pd.to_datetime(errors='coerce') (`transform.py:172-175`).
    val parsed = try_to_timestamp(concat_ws(" ", col("date"), col("time")))
    df
      .withColumn("datetime", parsed)
      .withColumn("shifted_time", col("datetime") - expr("INTERVAL 6 HOURS"))
      .withColumn(
        "minutes_past_midnight",
        (hour(col("shifted_time")) * 60 + minute(col("shifted_time"))).cast("long"))
      .withColumn(
        "time_slot",
        format_string(
          "%02d:00-%02d:00",
          hour(col("shifted_time")),
          hour(col("shifted_time")) + lit(1)))
  }

  /** Full production transform (reference `run_transform`,
    * `transform.py:199-222`): flatten → C1 cascade → time slots, then
    * project to the curated column order.
    */
  def run(receipts: DataFrame): DataFrame = {
    val flat = timeSlots(homogenizeOrderTypes(flatten(receipts)))
    flat.select(Schemas.curatedColumns.map(col): _*)
  }

  /** P3 — clean-for-reporting (reference `data_preparation.py:76-112`):
    * coerce types (invalid → null, matching pandas `errors='coerce'`),
    * drop rows missing datetime/receipt_number, zero-fill money, fill
    * item_name with 'Unknown', add day_of_week + hour_of_day.
    */
  def cleanForReporting(df: DataFrame): DataFrame =
    df
      .withColumn("price", expr("try_cast(price AS DOUBLE)"))
      .withColumn("cost", expr("try_cast(cost AS DOUBLE)"))
      .withColumn("datetime", expr("try_cast(datetime AS TIMESTAMP)"))
      .na.drop(Seq("datetime", "receipt_number"))
      .na.fill(0.0, Seq("price", "cost"))
      .na.fill("Unknown", Seq("item_name"))
      .withColumn("day_of_week", date_format(col("datetime"), "EEEE"))
      .withColumn("hour_of_day", hour(col("datetime")))

  /** The rows [[cleanForReporting]] keeps, as a predicate: a `datetime`
    * that casts to a timestamp and a `receipt_number`. For readers that
    * must also see the rows it drops.
    */
  private[pos] def reportingKept: Column =
    expr("try_cast(datetime AS TIMESTAMP)").isNotNull && col("receipt_number").isNotNull
}
