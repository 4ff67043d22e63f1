package graft.pos

import graft.SparkSpec
import graft.multimodal.ImageCodec

/** K10 chart sink: rasters verified structurally via our own decoder
  * (ImageIO cross-checks the PNG envelope elsewhere).
  */
class ChartsSpec extends SparkSpec {

  private def raster(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    val Some((h, px)) = ImageCodec.decodePng(png)
    (h.width, h.height, px)
  }

  test("barChart: bar heights proportional to values; axes drawn") {
    val (w, h, px) = raster(Charts.barChart(Seq("a" -> 10.0, "b" -> 5.0, "c" -> 0.0), 60, 50))
    assert(w === 60 && h === 50)
    def columnBlackCount(x: Int): Int =
      (0 until h - 1).count(y => (px(y * w + x) & 0xff) == 0)
    // sample the middle of each bar band
    val band = (w - 2) / 3
    val ha = columnBlackCount(1 + band / 2)
    val hb = columnBlackCount(1 + band + band / 2)
    val hc = columnBlackCount(1 + 2 * band + band / 2)
    assert(ha === 48, "max bar fills the plot height")
    assert(math.abs(hb - 24) <= 1, s"half bar ~24, got $hb")
    assert(hc === 0, "zero bar draws nothing")
    assert((0 until h).forall(y => (px(y * w) & 0xff) == 128), "y axis")
    assert((0 until w).forall(x => (px((h - 1) * w + x) & 0xff) == 128), "x axis")
  }

  test("lineChart: endpoints hit min/max rows; ImageIO reads the file") {
    val png = Charts.lineChart(Seq(0.0, 10.0, 5.0), 61, 41)
    val (w, h, px) = raster(png)
    def isBlack(x: Int, y: Int) = (px(y * w + x) & 0xff) == 0
    assert(isBlack(1, h - 2), "first point at min → bottom-left")
    assert((0 until w).exists(x => isBlack(x, 1)), "max point reaches top row")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === 61 && img.getHeight === 41)
  }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  test("non-empty charts keep their exact bytes") {
    val bar = Charts.barChart(Seq("Burger" -> 12.0, "Fries" -> 7.5, "Soda" -> 3.0))
    val line = Charts.lineChart(Seq(120.0, 80.5, 95.25, 140.0))
    assert(sha256(bar) == "f44729315cfbc64041a9920a403a6c5e4e6b072d40e7ae9bdbace7bdaf42d43a", "bar chart bytes changed")
    assert(sha256(line) == "6896f12ff908fc38321370049d6e7fcfc13d1db41d7ff6662e6389d7a94d5332", "line chart bytes changed")
  }

  test("empty charts render the axes alone") {
    Seq(Charts.barChart(Seq.empty, 60, 50), Charts.lineChart(Seq.empty, 60, 50)).foreach { png =>
      val (w, h, px) = raster(png)
      assert(w === 60 && h === 50)
      for (y <- 0 until h; x <- 0 until w) {
        val axis = x == 0 || y == h - 1
        assert((px(y * w + x) & 0xff) == (if (axis) 128 else 255), s"pixel ($x, $y)")
      }
    }
  }

  test("monthlyWithCharts: renders decodable PNGs from the lake") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("charts").toString
    val rows = Seq(
      ("r1", java.sql.Timestamp.valueOf("2025-07-01 10:00:00"), "Burger", 100.0),
      ("r2", java.sql.Timestamp.valueOf("2025-07-02 11:00:00"), "Fries", 50.0),
      ("r3", java.sql.Timestamp.valueOf("2025-07-02 12:00:00"), "Burger", 80.0)
    ).toDF("receipt_number", "shifted_time", "item_name", "price")
      .withColumn("total_money", $"price")
      .withColumn("modifiers", lit(null: String))
      .withColumn("datetime", $"shifted_time")
      .withColumn("date", lit("x")).withColumn("time", lit("x"))
      .withColumn("order_type", lit("Mesa"))
      .withColumn("cost", lit(1.0))
      .withColumn("payment_type", lit("CASH"))
      .withColumn("minutes_past_midnight", lit(0L))
      .withColumn("time_slot", lit("00:00-01:00"))
    Lake.writeFull(rows, s"$dir/lake")
    Reports.monthlyWithCharts(spark, s"$dir/lake", "2025-07", "2025-06", s"$dir/charts")
    val files = Seq("top_products_2025-07.png", "daily_revenue_2025-07.png")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/charts")).count() === 2)
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "charts", f))
      assert(ImageCodec.decodePng(bytes).isDefined, s"$f not a decodable PNG")
    }
  }

  test("monthlyWithCharts: a day whose prices are all null draws as 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("charts_null").toString
    val rows = Seq[(String, java.sql.Timestamp, String, java.lang.Double)](
      ("r1", java.sql.Timestamp.valueOf("2025-07-01 10:00:00"), "Burger", 100.0),
      ("r2", java.sql.Timestamp.valueOf("2025-07-02 11:00:00"), "Tea", null),
      ("r3", java.sql.Timestamp.valueOf("2025-07-03 12:00:00"), "Fries", 50.0)
    ).toDF("receipt_number", "shifted_time", "item_name", "price")
      .withColumn("total_money", $"price")
      .withColumn("modifiers", lit(null).cast("string"))
      .withColumn("datetime", $"shifted_time")
      .withColumn("date", lit("x")).withColumn("time", lit("x"))
      .withColumn("order_type", lit("Mesa"))
      .withColumn("cost", lit(1.0))
      .withColumn("payment_type", lit("CASH"))
      .withColumn("minutes_past_midnight", lit(0L))
      .withColumn("time_slot", lit("00:00-01:00"))
    Lake.writeFull(rows, s"$dir/lake")
    val want = Charts.lineChart(Seq(100.0, 0.0, 50.0)).toSeq
    Reports.monthlyWithCharts(spark, s"$dir/lake", "2025-07", "2025-06", s"$dir/charts")
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/charts/daily_revenue_2025-07.png")).toSeq == want)
  }
}
