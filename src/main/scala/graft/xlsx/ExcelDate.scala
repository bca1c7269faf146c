package graft.xlsx

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

/** Excel date-serial codec, preserving the deliberate 1900 leap-year bug:
  * Excel treats 1900 as a leap year, so serial 60 is the nonexistent
  * 1900-02-29 and all serials >= 60 are shifted by -2 days relative to a
  * 1900-01-01 = serial-1 epoch (serials < 60 shift by -1). Decoding is
  * total: both 59 and 60 render as 1900-02-28, matching the reference
  * (ref: src/streaming_reader.rs:37-131; golden tests :818-913).
  */
object ExcelDate {
  val MinSerial = 1.0
  /** 2958465 = 9999-12-31 (ref: src/streaming_reader.rs:39-41). */
  val MaxSerial = 2958465.999

  private val EpochPostBug = LocalDate.of(1899, 12, 30) // serial >= 60
  private val EpochPreBug  = LocalDate.of(1899, 12, 31) // serial 1..59
  private val MarchFirst1900 = LocalDate.of(1900, 3, 1)

  def isLeapYear(year: Int): Boolean =
    (year % 4 == 0 && year % 100 != 0) || year % 400 == 0

  /** Serial -> LocalDateTime. Returns None outside the valid range.
    * Time is the fractional day rounded to whole seconds and suppressed
    * below the reference's 0.0001-day threshold
    * (ref: src/streaming_reader.rs:112-126). */
  def toDateTime(serial: Double): Option[LocalDateTime] = {
    if (serial.isNaN || serial < MinSerial || serial > MaxSerial) return None
    val datePart = math.floor(serial)
    val timePart = serial - datePart
    val date =
      if (datePart >= 60.0) EpochPostBug.plusDays(datePart.toLong)
      else EpochPreBug.plusDays(datePart.toLong)
    val dt =
      if (timePart > 0.0001) {
        val totalSeconds = math.round(timePart * 86400.0)
        date.atStartOfDay.plusSeconds(totalSeconds)
      } else date.atStartOfDay
    Some(dt)
  }

  def toDate(serial: Double): Option[LocalDate] = toDateTime(serial).map(_.toLocalDate)

  /** Serial -> "yyyy-mm-dd" or "yyyy-mm-dd hh:mm:ss", exactly the
    * reference's rendering (ref: src/streaming_reader.rs:37-127). Invalid
    * serials -> None (the reference echoes the raw number; callers decide). */
  def format(serial: Double): Option[String] =
    toDateTime(serial).map { dt =>
      val d = dt.toLocalDate
      val hasTime = (serial - math.floor(serial)) > 0.0001
      val datePart = f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d"
      if (hasTime) {
        val t = dt.toLocalTime
        f"$datePart ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
      } else datePart
    }

  /** LocalDate -> integral serial (inverse of toDate for dates >= 1900-01-01,
    * respecting the serial-60 hole: no date maps to 60). */
  def fromDate(d: LocalDate): Long =
    if (d.isBefore(MarchFirst1900)) ChronoUnit.DAYS.between(EpochPreBug, d)
    else ChronoUnit.DAYS.between(EpochPostBug, d)

  /** LocalDateTime -> fractional serial. */
  def fromDateTime(dt: LocalDateTime): Double =
    fromDate(dt.toLocalDate).toDouble + dt.toLocalTime.toSecondOfDay / 86400.0

  /** The one timestamp rule: a timestamp (microseconds since the epoch, as
    * Spark holds `TIMESTAMP` and `TIMESTAMP_NTZ` alike) is stored as the
    * serial of its UTC wall clock, so neither the JVM's nor the session's
    * zone moves it. Sub-second precision is dropped, as in [[fromDateTime]]. */
  def fromEpochMicros(micros: Long): Double =
    fromDateTime(LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC))

  /** Serial -> microseconds since the epoch, reading the serial as a UTC
    * wall clock: the inverse of [[fromEpochMicros]] at [[toDateTime]]'s
    * whole-second resolution. None outside the valid range. */
  def toEpochMicros(serial: Double): Option[Long] =
    toDateTime(serial).map(_.toEpochSecond(ZoneOffset.UTC) * 1000000L)

  /** Serial plausibly a date when the cell carries a style: integral value
    * in [1, 2958465] (ref: src/streaming_reader.rs:693-699). */
  def looksLikeDateSerial(num: Double): Boolean =
    num >= 1.0 && num <= 2958465.0 && (num - math.floor(num)) < 0.0001
}
