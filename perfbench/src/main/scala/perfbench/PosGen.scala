package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.util.Random

/** One generated line item: money is whole units, so every sum is exact. */
final case class Line(item: String, modifiers: Seq[(String, String)], price: Long, cost: Long)

/** One generated receipt. `ts` is `receipt_date` = `created_at` =
  * `updated_at`; `shiftedMonth` is the `yyyy-MM` of `ts − 6h`, the month
  * the engine partitions and reports it under.
  */
final case class Receipt(number: String, epochMs: Long, ts: String, orderType: String,
    payment: String, lines: Seq[Line]) {
  def shiftedMonth: String = PosGen.monthOf(epochMs - 6L * 3600 * 1000)
  def total: Long = lines.map(_.price).sum

  lazy val json: String = {
    val sb = new StringBuilder(256)
    sb ++= "{\"receipt_number\":\"" ++= number ++= "\",\"receipt_date\":\"" ++= ts
    sb ++= "\",\"created_at\":\"" ++= ts ++= "\",\"updated_at\":\"" ++= ts
    sb ++= "\",\"order\":\"" ++= orderType ++= "\",\"payments\":[{\"type\":\"" ++= payment
    sb ++= "\"}],\"line_items\":["
    lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) sb += ','
      sb ++= "{\"item_name\":\"" ++= l.item ++= "\",\"cost\":" ++= l.cost.toString
      sb ++= ",\"price\":" ++= l.price.toString ++= ",\"total_money\":" ++= l.price.toString
      sb ++= ",\"line_modifiers\":["
      sb ++= l.modifiers.map { case (n, o) => s"""{"name":"$n","option":"$o"}""" }.mkString(",")
      sb ++= "]}"
    }
    sb ++= "]}"
    sb.result()
  }
}

/** Seeded POS receipt generator shaped like the TPC-H-derived POS view
  * the engine's gates use: orders become receipts, line items become
  * receipt lines, and item names, modifiers (with the combo modifier
  * list) and order types follow the same part-key / order-key rules.
  *
  * Day sizes follow the TPC-H order rate at sf0.1 (≈62 orders a day),
  * clipped to 36–87 receipts so that even a day replayed together with
  * the next one fits `PosApiClient.fetchIncremental`'s single page of
  * 175. Lines of one receipt that map to the same item name are merged,
  * so `(receipt_number, item_name)` — the engine's dedup key — is unique
  * in the generated data and dedup can be checked by exact counts.
  */
final class PosGen(seed: Long) {
  private val rnd = new Random(seed)
  private var nextKey = 1L

  private val comboMods = Seq(
    "Hamburguesa 1" -> "Hamburguesa Smash 1", "Hamburguesa 2" -> "Hamburguesa Chiken 2",
    "Mayonesa" -> "Ajo", "Mayonesa" -> "Chipotle", "Refresco Sabor" -> "Agua Natural")
  private val items = Array("Smash Burger", "Chicken Burger", "Refresco Coca",
    "Malteada Chocolate", "Agua natural embotellada", "Combo Pa Dos")
  private val orderTypes = Array("Mesa 01", "Mesa 2 - terraza", "a domicilio rappi",
    "Para Llevar", "desconocido")
  private val payments = Array("CASH", "CARD", "CARD")

  private def line(): Line = {
    val partKey = 1 + rnd.nextInt(20000)
    val item = items(partKey % 6)
    val mods =
      if (partKey % 6 == 5) comboMods
      else partKey % 4 match {
        case 0 => Seq("Mayonesa" -> "Ajo")
        case 1 => Seq("Mayonesa" -> "Sin Mayonesa 2")
        case 2 => Seq("Mayonesa" -> "Chipotle")
        case _ => Seq.empty
      }
    // TPC-H retail price of the part times a 1–50 quantity, floored.
    val retail = (90000 + (partKey / 10) % 20001 + 100 * (partKey % 1000)) / 100.0
    val ext = (1 + rnd.nextInt(50)) * retail
    Line(item, mods, math.floor(ext).toLong, math.floor(ext / 2).toLong)
  }

  private def receipt(day: LocalDate): Receipt = {
    val key = nextKey
    nextKey += 1
    val secOfDay = rnd.nextInt(86400)
    val ms = day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli + secOfDay * 1000L
    val raw = Seq.fill(1 + rnd.nextInt(7))(line())
    val merged = raw.groupBy(_.item).values.map { ls =>
      ls.head.copy(price = ls.map(_.price).sum, cost = ls.map(_.cost).sum)
    }.toSeq.sortBy(_.item)
    Receipt(key.toString, ms, PosGen.iso(ms), orderTypes((key % 5).toInt),
      payments((key % 3).toInt), merged)
  }

  /** The receipts of one calendar day, oldest first. */
  def day(d: LocalDate): Vector[Receipt] = {
    val n = math.max(36, math.min(87, math.round(62 + 12 * rnd.nextGaussian()).toInt))
    Vector.fill(n)(receipt(d)).sortBy(_.epochMs)
  }

  /** Consecutive days from `from`, one receipt vector per day. */
  def days(from: LocalDate, count: Int): Vector[Vector[Receipt]] =
    Vector.tabulate(count)(i => day(from.plusDays(i.toLong)))
}

object PosGen {
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  private val monthFmt = DateTimeFormatter.ofPattern("yyyy-MM").withZone(ZoneOffset.UTC)

  def iso(ms: Long): String = isoFmt.format(Instant.ofEpochMilli(ms))
  def monthOf(ms: Long): String = monthFmt.format(Instant.ofEpochMilli(ms))
}
