package graft.sources

import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Half-open UTC time windows, generalizing the reference's
  * (year, month, day, hour) args and previous-hour default
  * (reference App.java:44-56).
  *
  * `predicate` produces a plain Catalyst comparison on the timestamp
  * column, so it pushes down to the parquet scan (min/max row-group
  * skipping) and, on hive-partitioned year=/month=/day=/hour= layouts,
  * prunes partitions via `partitionFilter` below.
  */
final case class TimeWindow(start: Instant, end: Instant) {

  /** Pushdown-friendly predicate on an event-time column. */
  def predicate(ts: Column): Column =
    ts >= lit(java.sql.Timestamp.from(start)) &&
      ts < lit(java.sql.Timestamp.from(end))

  /** Equivalent predicate over hive-style partition columns — matches
    * only whole hours, so `start`/`end` must be hour-aligned. */
  def partitionFilter(year: Column, month: Column, day: Column, hour: Column): Column = {
    require(start.truncatedTo(ChronoUnit.HOURS) == start &&
      end.truncatedTo(ChronoUnit.HOURS) == end,
      s"partitionFilter matches whole hours only: window [$start, $end) " +
        "is not hour-aligned")
    def key(y: Column, mo: Column, d: Column, h: Column): Column =
      ((y * 100 + mo) * 100 + d) * 100 + h
    val s = ZonedDateTime.ofInstant(start, ZoneOffset.UTC)
    val e = ZonedDateTime.ofInstant(end.minusSeconds(1), ZoneOffset.UTC)
    def litKey(z: ZonedDateTime): Column =
      lit(((z.getYear * 100 + z.getMonthValue) * 100 + z.getDayOfMonth) * 100L + z.getHour)
    key(year, month, day, hour).between(litKey(s), litKey(e))
  }
}

object TimeWindow {

  /** One hour starting at (year, month, day, hour) UTC — the
    * reference's explicit-args mode. */
  def hour(year: Int, month: Int, day: Int, hour: Int): TimeWindow = {
    val s = ZonedDateTime.of(year, month, day, hour, 0, 0, 0, ZoneOffset.UTC).toInstant
    TimeWindow(s, s.plus(1, ChronoUnit.HOURS))
  }

  /** The reference's no-args default: the full previous hour. */
  def previousHour(now: Instant): TimeWindow = {
    val end = now.truncatedTo(ChronoUnit.HOURS)
    TimeWindow(end.minus(1, ChronoUnit.HOURS), end)
  }

  def day(year: Int, month: Int, day: Int): TimeWindow = {
    val s = ZonedDateTime.of(year, month, day, 0, 0, 0, 0, ZoneOffset.UTC).toInstant
    TimeWindow(s, s.plus(1, ChronoUnit.DAYS))
  }
}
