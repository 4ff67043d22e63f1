package graft.streaming

import graft.SparkSpec
import graft.operators.Scd2
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming SCD2 sink: stream-applied deltas ≡ batch fromLog over the
  * full log, checkpointed across restarts, replay-idempotent, and
  * bucket-pruned (untouched history partitions are not rewritten).
  */
class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  private val logSchema = StructType(Seq(
    StructField("k", LongType), StructField("tus", LongType),
    StructField("event_id", LongType), StructField("value", DoubleType)))

  private def histRows(path: String) =
    spark.read.parquet(path)
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet

  test("stream-applied deltas == batch fromLog on the full log, across two checkpointed triggers") {
    val dir = Files.createTempDirectory("scd2s")
    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    val hist = dir.resolve("hist").toString
    val ckpt = dir.resolve("ckpt").toString
    val full = Seq(
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 30L, 102L, 3.0),
      (2L, 5L, 103L, 9.0), (3L, 40L, 104L, 4.0), (3L, 41L, 105L, 5.0))
    val (c1, c2) = full.partition(_._2 <= 20)
    c1.toDF("k", "tus", "event_id", "value")
      .write.parquet(drop.resolve("chunk1").toString)
    def run(): Unit = {
      val changes = spark.readStream.schema(logSchema)
        .option("maxFilesPerTrigger", 100).parquet(drop.toString + "/*")
      Scd2Stream
        .scd2Stream(changes, hist, ckpt, "k", "tus", "event_id", Seq("value"), nBuckets = 4)
        .awaitTermination(60000)
    }
    run()
    // late chunk lands, a NEW AvailableNow trigger resumes the checkpoint
    c2.toDF("k", "tus", "event_id", "value")
      .write.parquet(drop.resolve("chunk2").toString)
    run()
    val expected = Scd2
      .fromLog(full.toDF("k", "tus", "event_id", "value"), "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    assert(histRows(hist) == expected)
  }

  test("replayed batch is a no-op; untouched buckets are not rewritten") {
    val dir = Files.createTempDirectory("scd2r")
    val hist = dir.resolve("hist").toString
    // keys 0..7 spread across 4 buckets
    val base = (0L until 8L).map(k => (k, 10L, k, 1.0))
    Scd2Stream.applyBatch(
      base.toDF("k", "tus", "event_id", "value"), hist,
      "k", "tus", "event_id", Seq("value"), nBuckets = 4)
    val before = histRows(hist)
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(hist)
      root.listFiles().filter(_.getName.startsWith("kb=")).map { d =>
        d.getName -> d.listFiles().map(f => s"${f.getName}:${f.lastModified}").toSet
      }.toMap
    }
    // replay the SAME batch: anti-join drains it, history identical
    Scd2Stream.applyBatch(
      base.toDF("k", "tus", "event_id", "value"), hist,
      "k", "tus", "event_id", Seq("value"), nBuckets = 4)
    assert(histRows(hist) == before)
    // a delta touching ONLY key 5 must rewrite only key 5's bucket
    val filesBefore = bucketFiles()
    val kb5 = s"kb=${java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(5L, LongType, 42L), 4L)}"
    Scd2Stream.applyBatch(
      Seq((5L, 20L, 99L, 2.0)).toDF("k", "tus", "event_id", "value"), hist,
      "k", "tus", "event_id", Seq("value"), nBuckets = 4)
    val filesAfter = bucketFiles()
    assert(filesAfter.keySet == filesBefore.keySet)
    filesBefore.keys.foreach { kb =>
      if (kb == kb5) assert(filesAfter(kb) != filesBefore(kb), s"$kb should be rewritten")
      else assert(filesAfter(kb) == filesBefore(kb), s"$kb should be untouched")
    }
    // and the merge result is the full-recompute answer
    val expected = Scd2.fromLog(
      (base :+ ((5L, 20L, 99L, 2.0))).toDF("k", "tus", "event_id", "value"),
      "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    assert(histRows(hist) == expected)
  }

  test("a file: URI history root keeps the first batch's versions") {
    val hist = "file:" + Files.createTempDirectory("scd2u").resolve("hist")
    val first = Seq((1L, 10L, 100L, 1.0), (2L, 10L, 101L, 5.0))
    val second = Seq((1L, 20L, 102L, 2.0))
    Seq(first, second).foreach { b =>
      Scd2Stream.applyBatch(
        b.toDF("k", "tus", "event_id", "value"), hist,
        "k", "tus", "event_id", Seq("value"), nBuckets = 4)
    }
    val expected = Scd2.fromLog(
      (first ++ second).toDF("k", "tus", "event_id", "value"),
      "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    assert(expected.size === 3)
    assert(histRows(hist) === expected)
  }
}
