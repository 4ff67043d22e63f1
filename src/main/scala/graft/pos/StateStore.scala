package graft.pos

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDate, ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter

/** S9/K6 — the incremental watermark state file (reference
  * `etl/extract.py:201-252`, `config/etl_state.json`).
  *
  * Contract: read returns the persisted
  * `last_successful_extraction_timestamp`, falling back to the start of
  * the current month in America/Mexico_City converted to UTC (ISO-8601
  * with 'Z', millisecond precision); commit writes `max(updated_at)` of
  * the fetched batch, and is only called AFTER a successful load — the
  * at-least-once contract ("state file is NOT updated on failure",
  * reference `main.py:58-61`), with exactly-once restored by the V1
  * dedup window on read.
  */
final class StateStore(path: Path, zone: ZoneId = ZoneId.of("America/Mexico_City")) {

  private val key = "last_successful_extraction_timestamp"
  private val pattern = ("\"" + key + "\"\\s*:\\s*\"(.*?)\"").r

  /** Start of the current local month, in UTC, `yyyy-MM-ddTHH:mm:ss.SSSZ`. */
  def defaultWatermark(now: Instant): String = {
    val localNow = ZonedDateTime.ofInstant(now, zone)
    val startOfMonth = LocalDate.of(localNow.getYear, localNow.getMonth, 1)
      .atStartOfDay(zone)
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .format(startOfMonth.withZoneSameInstant(ZoneId.of("UTC")))
  }

  /** Missing / malformed / empty state → start-of-month fallback. */
  def readLastTimestamp(now: Instant = Instant.now()): String =
    if (!Files.exists(path)) defaultWatermark(now)
    else
      pattern.findFirstMatchIn(Files.readString(path)) match {
        case Some(m) if m.group(1).nonEmpty => m.group(1)
        case _ => defaultWatermark(now)
      }

  /** Commit the new watermark; no-op on an empty batch (reference
    * `extract.py:233-236`). The file is written beside the state and
    * moved over it atomically, so a reader (or a crash mid-commit) sees
    * the old watermark or the new one, never a truncated file; a temp
    * file an interrupted commit leaves is overwritten by the next one.
    */
  def commit(maxUpdatedAt: Option[String]): Unit =
    maxUpdatedAt.foreach { ts =>
      val json = s"""{\n  "$key": "$ts"\n}"""
      if (path.getParent != null) Files.createDirectories(path.getParent)
      val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
}
