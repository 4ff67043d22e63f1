package graft.pos

import graft.SparkSpec
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** Lake write/append/dedup/compact + watermark state contract. */
class LakeStateSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def curatedRow(receipt: String, when: Timestamp, item: String, price: Double) =
    (receipt, when, when.toString.take(10), when.toString.drop(11), "Mesa",
      item, price / 2, price, price, null.asInstanceOf[String], "CASH", when,
      0L, "00:00-01:00")

  private def toDF(rows: Seq[(String, Timestamp, String, String, String, String,
      Double, Double, Double, String, String, Timestamp, Long, String)]) =
    rows.toDF(Schemas.curatedColumns: _*)

  test("K4/K5: partitioned layout, append keeps duplicates, dedup view resolves, compact rewrites") {
    val root = Files.createTempDirectory("lake").toString
    val initial = toDF(Seq(
      curatedRow("r1", ts("2025-07-01 10:00:00"), "Burger", 100.0),
      curatedRow("r2", ts("2025-08-02 11:00:00"), "Fries", 50.0)))
    Lake.writeFull(initial, root)
    assert(new java.io.File(s"$root/year=2025/month=07").exists())
    assert(new java.io.File(s"$root/year=2025/month=08").exists())

    // Incremental append: an update to (r1, Burger) with a newer shifted_time
    Lake.appendIncrement(
      toDF(Seq(curatedRow("r1", ts("2025-07-01 12:00:00"), "Burger", 120.0))), root)

    val raw = Lake.read(spark, root)
    assert(raw.count() === 3) // duplicates tolerated at rest (K5a)
    val dedup = Lake.dedupView(spark, root).collect()
    assert(dedup.length === 2)
    val r1 = dedup.find(_.getAs[String]("receipt_number") == "r1").get
    assert(r1.getAs[Double]("price") === 120.0) // newest wins

    // Compaction (K5b): target holds exactly the deduped rows
    val target = Files.createTempDirectory("lake_compact").toString
    Lake.compactTo(spark, root, target)
    assert(Lake.read(spark, target).count() === 2)
  }

  test("K5b: compaction overwrites only the source's months and leaves the session conf alone") {
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val source = Files.createTempDirectory("lake_src").toString
    Lake.writeFull(toDF(Seq(
      curatedRow("r1", ts("2025-07-01 10:00:00"), "Burger", 100.0),
      curatedRow("r2", ts("2025-08-02 11:00:00"), "Fries", 50.0))), source)
    Lake.appendIncrement(
      toDF(Seq(curatedRow("r1", ts("2025-07-01 12:00:00"), "Burger", 120.0))), source)
    // The target already holds June, which the source lacks, and a
    // stale July that compaction must replace.
    val target = Files.createTempDirectory("lake_tgt").toString
    Lake.writeFull(toDF(Seq(
      curatedRow("r0", ts("2025-06-15 09:00:00"), "Soda", 5.0),
      curatedRow("r9", ts("2025-07-20 09:00:00"), "Stale", 1.0))), target)
    val june = new java.io.File(s"$target/year=2025/month=06")
    def listing = june.listFiles().toSeq
      .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    val juneBefore = listing
    assert(juneBefore.exists(_._1.endsWith(".parquet")))
    val modeBefore = spark.conf.getAll.get(modeKey)

    Lake.compactTo(spark, source, target)

    assert(listing === juneBefore) // June's files untouched
    val rows = Lake.read(spark, target).collect()
      .map(r => (r.getAs[String]("receipt_number"), r.getAs[Double]("price"))).toSet
    assert(rows === Set(("r0", 5.0), ("r1", 120.0), ("r2", 50.0)))
    assert(spark.conf.getAll.get(modeKey) === modeBefore)
    assert(modeBefore === None)
  }

  test("K4/K5: lake writes cast each column to its curated type") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lake_types").toString
    // modifiers null-typed (lands as BOOLEAN uncast), price int-typed
    val loose = toDF(Seq(curatedRow("r1", ts("2025-07-01 10:00:00"), "Burger", 100.0)))
      .withColumn("modifiers", lit(null))
      .withColumn("price", lit(100))
    Lake.writeFull(loose, root)
    Lake.appendIncrement(loose.withColumn("receipt_number", lit("r2")), root)
    val atRest = spark.read.parquet(root).schema
    Schemas.curated.fields.foreach { f =>
      assert(atRest(f.name).dataType === f.dataType, f.name)
    }
    assert(Lake.read(spark, root).select(sum(col("price"))).head().getDouble(0) === 200.0)
    // the monthly report reads modifiers: it fails on a BOOLEAN column
    assert(Reports.monthly(spark, root, "2025-07", "2025-06").contains("| Receipts | 2 |"))
  }

  test("P19: two-month read prunes partitions then dedups") {
    val root = Files.createTempDirectory("lake2").toString
    Lake.writeFull(toDF(Seq(
      curatedRow("r1", ts("2025-06-01 10:00:00"), "Burger", 1.0),
      curatedRow("r2", ts("2025-07-01 10:00:00"), "Burger", 2.0),
      curatedRow("r3", ts("2025-08-01 10:00:00"), "Burger", 3.0))), root)
    val out = Analytics.twoMonthDedupRead(Lake.read(spark, root), "2025-08", "2025-07")
    assert(out.collect().map(_.getAs[String]("receipt_number")).toSet === Set("r2", "r3"))
  }

  test("S9/K6 state store: read, fallback, commit, failure semantics") {
    val dir = Files.createTempDirectory("state")
    val store = new StateStore(dir.resolve("etl_state.json"))
    // Missing file → start of current Mexico City month in UTC
    val now = Instant.parse("2025-07-15T12:00:00Z")
    assert(store.readLastTimestamp(now) === "2025-07-01T06:00:00.000Z") // CST = UTC-6
    // Commit then read back
    store.commit(Some("2025-07-20T10:11:12.000Z"))
    assert(store.readLastTimestamp(now) === "2025-07-20T10:11:12.000Z")
    // Empty batch → unchanged
    store.commit(None)
    assert(store.readLastTimestamp(now) === "2025-07-20T10:11:12.000Z")
    // Malformed file → fallback
    Files.writeString(dir.resolve("etl_state.json"), "{ not json")
    assert(store.readLastTimestamp(now) === "2025-07-01T06:00:00.000Z")
  }
}
