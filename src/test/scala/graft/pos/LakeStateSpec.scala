package graft.pos

import graft.SparkSpec
import graft.streaming.{StreamingIngest, StreamingSpec}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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

  /** One lake per writer of the lake, each written by that writer alone
    * (compaction's source excepted): the three batch writers and the
    * three streaming sinks.
    */
  private lazy val lakeByWriter: Seq[(String, String)] = {
    val dir = Files.createTempDirectory("lake_writers")
    def root(name: String) = dir.resolve(name).toString
    // Receipts of three line items each, over two months, with
    // modifiers: under parquet's defaults both the receipt-level and the
    // categorical columns would then carry a dictionary (parquet drops
    // one that does not pay for itself, as on a one-row file).
    val items = Seq("Burger" -> 100.0, "Fries" -> 50.0, "Soda" -> 20.0)
    val receipts = (1 to 8).map { i =>
      (s"r$i", f"2025-0${7 + i % 2}-${i}%02dT1${i}:00:00Z")
    }
    val rows = toDF(receipts.flatMap { case (r, at) =>
      val when = Timestamp.from(Instant.parse(at))
      items.map { case (item, price) => curatedRow(r, when, item, price) }
    }).withColumn("modifiers", lit("Queso(extra)"))
    Lake.writeFull(rows, root("writeFull"))
    // One partition, as a daily batch arrives: one file per month.
    Lake.appendIncrement(rows.coalesce(1), root("appendIncrement"))
    Lake.compactTo(spark, root("writeFull"), root("compactTo"))

    val drop = dir.resolve("drop"); Files.createDirectories(drop)
    Files.writeString(drop.resolve("b1.jsonl"), receipts.map { case (r, at) =>
      StreamingSpec.receiptLineOf(r, at, items, Seq("Queso" -> "extra"))
    }.mkString("", "\n", "\n"))
    def ckpt(name: String) = dir.resolve(s"ckpt_$name").toString
    StreamingIngest.toLake(spark, drop.toString, root("toLake"), ckpt("toLake"))
      .awaitTermination(60000)
    val (lakeQ, badQ) = StreamingIngest.toLakeWithQuarantine(spark, drop.toString,
      root("toLakeWithQuarantine"), root("quarantine"), ckpt("toLakeWithQuarantine"))
    lakeQ.awaitTermination(60000); badQ.awaitTermination(60000)
    StreamingIngest.toLakeMerged(spark, drop.toString, root("toLakeMerged"), ckpt("toLakeMerged"))
      .awaitTermination(60000)
    Seq("writeFull", "appendIncrement", "compactTo", "toLake", "toLakeWithQuarantine",
      "toLakeMerged").map(w => w -> root(w))
  }

  private def parquetFiles(root: String): Seq[Path] = {
    val s = Files.walk(Path.of(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** Every column chunk of one parquet file, from its footer. */
  private def chunks(file: Path): Seq[ColumnChunkMetaData] = {
    val in = HadoopInputFile.fromPath(new HPath(file.toUri), spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
    finally reader.close()
  }

  private def hasStatistics(c: ColumnChunkMetaData): Boolean =
    !c.getStatistics.isEmpty || c.getColumnIndexReference != null

  test("K4/K5: every lake writer leaves only zstd column chunks") {
    lakeByWriter.foreach { case (writer, root) =>
      val files = parquetFiles(root)
      assert(files.nonEmpty, writer)
      files.foreach { f =>
        val codecs = chunks(f).map(_.getCodec)
        assert(codecs.nonEmpty, s"$writer: $f")
        assert(codecs.toSet === Set(CompressionCodecName.ZSTD), s"$writer: $f")
      }
    }
  }

  test("K4/K5: every lake writer leaves no statistics and dictionaries only on categorical columns") {
    val categorical = Seq("order_type", "item_name", "modifiers", "payment_type", "time_slot")
    lakeByWriter.foreach { case (writer, root) =>
      val files = parquetFiles(root)
      assert(files.nonEmpty, writer)
      files.foreach { f =>
        val byColumn = chunks(f).groupBy(_.getPath.toDotString)
        assert(byColumn.keySet === Schemas.curatedColumns.toSet, s"$writer: $f")
        byColumn.foreach { case (c, cs) =>
          assert(!cs.exists(hasStatistics), s"$writer: $c carries statistics in $f")
        }
        Schemas.receiptLevel.foreach { c =>
          assert(!byColumn(c).exists(_.hasDictionaryPage), s"$writer: $c has a dictionary in $f")
        }
        categorical.foreach { c =>
          assert(byColumn(c).forall(_.hasDictionaryPage), s"$writer: $c lost its dictionary in $f")
        }
      }
    }
  }

  test("K4/K5: a lake with snappy history and zstd appends reads as the all-zstd lake") {
    val history = toDF(Seq(
      curatedRow("r1", ts("2025-06-10 10:00:00"), "Burger", 100.0),
      curatedRow("r2", ts("2025-06-20 11:00:00"), "Fries", 50.0),
      curatedRow("r3", ts("2025-07-01 09:00:00"), "Burger", 90.0),
      curatedRow("r4", ts("2025-07-02 12:00:00"), "Soda", 20.0)))
    val days = Seq(
      toDF(Seq(
        curatedRow("r3", ts("2025-07-01 13:00:00"), "Burger", 95.0), // a correction
        curatedRow("r5", ts("2025-07-03 10:00:00"), "Fries", 45.0))),
      toDF(Seq(
        curatedRow("r5", ts("2025-07-03 10:00:00"), "Fries", 45.0), // a replayed day
        curatedRow("r6", ts("2025-07-04 10:00:00"), "Burger", 80.0))))
    val mixed = Files.createTempDirectory("lake_mixed").toString
    // The layout writeFull gives, with the pages a lake written before
    // the current page layout carries: snappy, a dictionary on every
    // column, statistics on.
    Lake.prepared(history).repartition(col("year"), col("month")).write
      .partitionBy(Schemas.partitionKeys: _*)
      .option("compression", "snappy")
      .option("parquet.enable.dictionary", "true")
      .option("parquet.column.statistics.enabled", "true")
      .mode("overwrite")
      .parquet(mixed)
    val zstd = Files.createTempDirectory("lake_zstd").toString
    Lake.writeFull(history, zstd)
    days.foreach { d =>
      Lake.appendIncrement(d, mixed)
      Lake.appendIncrement(d, zstd)
    }
    val mixedChunks = parquetFiles(mixed).flatMap(chunks)
    assert(mixedChunks.map(_.getCodec).toSet ===
      Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD))
    val (oldChunks, newChunks) = mixedChunks.partition(_.getCodec == CompressionCodecName.SNAPPY)
    assert(oldChunks.filter(c => Seq("receipt_number", "item_name", "price")
      .contains(c.getPath.toDotString)).forall(hasStatistics))
    assert(!newChunks.exists(hasStatistics))

    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(sorted(Lake.dedupView(spark, mixed)) === sorted(Lake.dedupView(spark, zstd)))
    assert(sorted(Lake.dedupView(spark, mixed)).size === 6)
    val md = Reports.monthly(spark, mixed, "2025-07", "2025-06")
    assert(md === Reports.monthly(spark, zstd, "2025-07", "2025-06"))
    assert(md.contains("| Receipts | 4 |"))
    val (mixedOut, zstdOut) = (s"$mixed-compacted", s"$zstd-compacted")
    Lake.compactTo(spark, mixed, mixedOut)
    Lake.compactTo(spark, zstd, zstdOut)
    assert(sorted(Lake.read(spark, mixedOut)) === sorted(Lake.read(spark, zstdOut)))
    assert(Lake.read(spark, mixedOut).count() === 6)
  }

  test("K4/K5: lake writes cast each column to its curated type") {
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
    // the streaming sinks land the curated types too
    lakeByWriter.filter(_._1.startsWith("toLake")).foreach { case (writer, lake) =>
      val schema = spark.read.parquet(lake).schema
      Schemas.curated.fields.foreach { f =>
        assert(schema(f.name).dataType === f.dataType, s"$writer: ${f.name}")
      }
    }
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

  test("S9/K6 state store: commit replaces the file atomically and ignores a stray temp file") {
    val dir = Files.createTempDirectory("state_atomic")
    val state = dir.resolve("etl_state.json")
    val store = new StateStore(state)
    val now = Instant.parse("2025-07-15T12:00:00Z")
    def inode: AnyRef = Files.readAttributes(state,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    store.commit(Some("2025-07-20T10:11:12.000Z"))
    val first = inode
    store.commit(Some("2025-07-21T00:00:00.000Z"))
    // a new file moved over the old one, not the old one truncated
    assert(inode != first)
    assert(store.readLastTimestamp(now) === "2025-07-21T00:00:00.000Z")
    assert(Files.readString(state) ===
      "{\n  \"last_successful_extraction_timestamp\": \"2025-07-21T00:00:00.000Z\"\n}")
    def names: Set[String] = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names === Set("etl_state.json"))
    // a commit interrupted before its move leaves its temp file behind
    Files.writeString(dir.resolve("etl_state.json.tmp"),
      "{\n  \"last_successful_extraction_timestamp\": \"2025-08-01T00:00:00.000Z\"\n}")
    assert(store.readLastTimestamp(now) === "2025-07-21T00:00:00.000Z")
    store.commit(Some("2025-07-22T00:00:00.000Z"))
    assert(store.readLastTimestamp(now) === "2025-07-22T00:00:00.000Z")
    assert(names === Set("etl_state.json"))
  }
}
