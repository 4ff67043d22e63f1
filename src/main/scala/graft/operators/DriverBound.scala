package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.DynamicVariable

/** The one policy behind every driver-or-distributed switch: an operator
  * takes its driver path only while the bytes it would hold there fit
  * [[budget]]. A switch is one scope, `DriverBound(op, spark) { sw => … }`,
  * charged by [[Switch.collect]] (the probe: collect at most
  * `budget / bytesPerRow` rows with one `limit(max + 1)` job) or by
  * [[Switch.fits]] (a size the caller measured). Charges in one scope add
  * up. Per-row bytes start from the schema ([[rowBytes]]); the caller adds
  * what it knows (the vector dimension, its own in-memory structures).
  *
  * The scope's jobs carry its decision as their description, through
  * [[Scans.labelled]]: `<op>: probe rows<=<n> bound=<n> B` for the probe,
  * then `<op>: path=driver|distributed rows=<n> bytes=<n> bound=<n> B`;
  * the caller's description comes back when the scope ends.
  */
object DriverBound {

  /** Characters charged for each string value by [[rowBytes]]. */
  private val StringChars = 64L

  /** Estimated driver bytes of one collected row of `schema`: the row
    * object and its value array (32 B + 8 B a field), then per field a
    * boxed primitive (16 B), a `String` of [[StringChars]] UTF-16
    * characters (40 B + 2 B a character), or Spark's `defaultSize` plus a
    * 16 B header. From the schema alone, so a probe needs no size job.
    */
  def rowBytes(schema: StructType): Long =
    32L + schema.fields.iterator.map { f =>
      8L + (f.dataType match {
        case _: StringType => 40L + 2L * StringChars
        case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType => 16L
        case t => 16L + t.defaultSize
      })
    }.sum

  /** Driver bytes a driver path may hold: one eighth of
    * `spark.driver.maxResultSize` (0 = unlimited), capped by the heap.
    */
  def budget(spark: SparkSession): Long = {
    val cap = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val heap = Runtime.getRuntime.maxMemory
    (if (cap > 0L) math.min(cap, heap) else heap) / 8L
  }

  private val overrides = new DynamicVariable(Map.empty[String, Long])

  /** Runs `body` with the budgets of the named switches replaced, so
    * specs can force a path or put the bound at an input's bytes. A
    * negative budget takes the distributed path without a probe job.
    */
  private[graft] def withBudget[T](bounds: (String, Long)*)(body: => T): T =
    overrides.withValue(overrides.value ++ bounds)(body)

  def apply[T](op: String, spark: SparkSession)(body: Switch => T): T =
    Scans.labelled(spark) { describe =>
      body(new Switch(op, overrides.value.getOrElse(op, budget(spark)), describe))
    }

  /** One switch's running charge against its `bound`. */
  final class Switch private[DriverBound] (op: String, val bound: Long,
                                           describe: String => Unit) {
    private var rows = 0L
    private var bytes = 0L

    private def label(path: String, n: String): Unit =
      describe(s"$op: path=$path rows$n bytes=$bytes bound=$bound B")

    /** Every row of `df`, charged `bytesPerRow` each, when they fit what
      * is left of the bound. A caller that `expects` more rows than fit
      * skips the probe job.
      */
    def collect(df: DataFrame, bytesPerRow: Long, expects: Long = 0L): Option[Array[Row]] = {
      val left = bound - bytes
      val max = if (left < 0L) -1L else left / bytesPerRow
      if (max < 0L || expects > max) {
        label("distributed", if (expects > max) s"~$expects" else s"=$rows")
        None
      } else {
        describe(s"$op: probe rows<=$max bound=$bound B")
        val got = df.limit((math.min(max, Int.MaxValue - 1L) + 1L).toInt).collect()
        if (got.length > max) {
          label("distributed", s">=${rows + max + 1}")
          None
        } else {
          rows += got.length
          bytes += got.length * bytesPerRow
          label("driver", s"=$rows")
          Some(got)
        }
      }
    }

    /** Runs the caller's own size job under the probe label. */
    def measure[A](job: => A): A = {
      describe(s"$op: probe bound=$bound B")
      job
    }

    /** Charges `n` measured rows at `nBytes`: true while the scope fits. */
    def fits(n: Long, nBytes: Long): Boolean = {
      rows += n
      bytes += nBytes
      label(if (bytes <= bound) "driver" else "distributed", s"=$rows")
      bytes <= bound
    }

    /** The driver path turned a fitting input down: what follows runs
      * distributed.
      */
    def distributed(): Unit = label("distributed", s"=$rows")
  }
}
