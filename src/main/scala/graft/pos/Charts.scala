package graft.pos

import graft.multimodal.ImageCodec

/** K10 — chart sinks (reference `monthly_report.py:96-509` renders
  * matplotlib PNGs per report relation). Round 1 declared this out of
  * scope for lack of an image library; the library now HAS a PNG
  * encoder ([[ImageCodec.encodeGrayPng]]), so the chart sink is real:
  * pure-JVM rasterization of the report relations into grayscale PNG
  * bar/line charts. Rendering is driver-side over already-aggregated
  * report rows (tens of values — same shape as the reference, where
  * matplotlib draws the final aggregates, never raw data). The monthly
  * report aggregates both series from its own lake read
  * ([[Reports.monthlyWithCharts]]) and draws them with [[writeMonthly]].
  */
object Charts {

  private val White = 255
  private val Black = 0
  private val Gray = 128

  /** A white raster with the 1-px gray axes on the left and bottom —
    * all an empty chart draws.
    */
  private def axes(width: Int, height: Int): Array[Int] = {
    val raster = Array.fill(height * width)(White)
    for (y <- 0 until height) raster(y * width) = Gray
    for (x <- 0 until width) raster((height - 1) * width + x) = Gray
    raster
  }

  /** Vertical bar chart. Bars fill proportionally to value / max;
    * 1-px gray axis on the left and bottom, 2-px gap between bars.
    * No values (a month without sales) draws the axes alone.
    */
  def barChart(
      values: Seq[(String, Double)],
      width: Int = 320,
      height: Int = 200): Array[Byte] = {
    val raster = axes(width, height)
    val max = math.max(values.map(_._2).maxOption.getOrElse(0.0), 1e-9)
    val n = math.max(values.length, 1)
    val plotW = width - 2
    val barW = math.max(1, plotW / n - 2)
    values.zipWithIndex.foreach { case ((_, v), i) =>
      val h = math.max(0, math.min(height - 2,
        math.round((v / max) * (height - 2)).toInt))
      val x0 = 1 + i * (plotW / n) + 1
      for (x <- x0 until math.min(x0 + barW, width);
           y <- (height - 1 - h) until (height - 1))
        raster(y * width + x) = Black
    }
    ImageCodec.encodeGrayPng(width, height, (x, y) => raster(y * width + x))
  }

  /** Line chart (poly-line of equally spaced points, min-max scaled).
    * No values draws the axes alone.
    */
  def lineChart(
      values: Seq[Double],
      width: Int = 320,
      height: Int = 200): Array[Byte] = {
    val raster = axes(width, height)
    val lo = values.minOption.getOrElse(0.0)
    val hi = math.max(values.maxOption.getOrElse(0.0), lo + 1e-9)
    def yOf(v: Double): Int =
      1 + math.round((1.0 - (v - lo) / (hi - lo)) * (height - 3)).toInt
    def xOf(i: Int): Int =
      if (values.length == 1) width / 2
      else 1 + math.round(i.toDouble * (width - 2) / (values.length - 1)).toInt
    values.indices.dropRight(1).foreach { i =>
      // Bresenham-lite: dense parametric steps between consecutive points
      val (x0, y0, x1, y1) = (xOf(i), yOf(values(i)), xOf(i + 1), yOf(values(i + 1)))
      val steps = math.max(math.abs(x1 - x0), math.abs(y1 - y0)) + 1
      for (s <- 0 to steps) {
        val x = x0 + (x1 - x0) * s / steps
        val y = y0 + (y1 - y0) * s / steps
        if (x >= 0 && x < width && y >= 0 && y < height) raster(y * width + x) = Black
      }
    }
    ImageCodec.encodeGrayPng(width, height, (x, y) => raster(y * width + x))
  }

  /** Bars on the top-products chart. */
  private[pos] val TopItems = 10

  /** Write the monthly chart pair for `reportMonth` from its two series:
    * the top items with their line counts, and each day's revenue in
    * date order.
    */
  private[pos] def writeMonthly(
      reportMonth: String,
      outDir: String,
      topProducts: Seq[(String, Double)],
      daily: Seq[Double]): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, bytes: Array[Byte]): String = {
      val p = java.nio.file.Paths.get(outDir, name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    Seq(
      write(s"top_products_$reportMonth.png", barChart(topProducts)),
      write(s"daily_revenue_$reportMonth.png", lineChart(daily)))
  }
}
