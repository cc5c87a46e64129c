package graft.functions

import java.time.{Instant, LocalDateTime}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time core (SURVEY.md §7.2 step 1).
  *
  * Re-expresses the reference's clock and chunking arithmetic as pure column
  * expressions so every call stays inside whole-stage codegen:
  *
  *  - HARP clock: seconds since 1904-01-01 UTC
  *    (reference `swc.aeon` harp readers; used at
  *    `aeon/dj_pipeline/utils/ephys_utils.py:637-643` `harp_to_naive`).
  *  - Chunking: 1-hour tumbling windows, chunk_end floored to the *next* hour
  *    (reference `aeon/dj_pipeline/acquisition.py:500-511`).
  *  - Epoch directory names in two formats, `2026-04-15T09-03-01` and
  *    `2026-04-15T090301Z` (reference `aeon/dj_pipeline/utils/time_utils.py:6-17`).
  *  - µs rounding at the fetch edge (reference
  *    `aeon/dj_pipeline/__init__.py:100-105`).
  */
object TimeFunctions {

  /** Offset between the HARP epoch (1904-01-01T00:00:00Z) and the Unix epoch,
    * in seconds. 1904→1970 is 66 years with 17 leap days = 24107 days.
    */
  val HarpEpochOffsetSeconds: Long = -2082844800L // Instant.parse("1904-01-01T00:00:00Z").getEpochSecond

  /** HARP seconds (double, seconds since 1904) → TimestampType (µs precision).
    * Pure arithmetic — codegen-friendly, no UDF.
    */
  def harpToTimestamp(harpSeconds: Column): Column =
    timestamp_micros(
      round((harpSeconds + lit(HarpEpochOffsetSeconds.toDouble)) * lit(1e6))
        .cast("long"))

  /** TimestampType → HARP seconds since 1904 (double). */
  def timestampToHarp(ts: Column): Column =
    (unix_micros(ts).cast("double") / lit(1e6)) - lit(HarpEpochOffsetSeconds.toDouble)

  /** Floor a timestamp to its 1-hour chunk start
    * (reference `acquisition.py:504-506`).
    */
  def chunkStart(ts: Column): Column = date_trunc("hour", ts)

  /** Chunk end = start of the NEXT hour, capped by an epoch/limit end if given
    * (reference `acquisition.py:504-511`: `chunk_end = chunk_start + 1h`,
    * truncated to `min(chunk_end, epoch_end)`).
    */
  def chunkEnd(ts: Column, cap: Option[Column] = None): Column = {
    val end = chunkStart(ts) + expr("INTERVAL 1 HOUR")
    cap.map(c => least(end, c)).getOrElse(end)
  }

  /** Parse an epoch directory name in either reference format:
    * `2026-04-15T09-03-01` (hyphenated) or `2026-04-15T090301Z` (compact)
    * (reference `time_utils.py:6-17`). Column version: try both patterns.
    */
  def parseEpochDirName(name: Column): Column =
    coalesce( // try_: ANSI mode makes plain to_timestamp THROW on mismatch
      try_to_timestamp(name, lit("yyyy-MM-dd'T'HH-mm-ss")),
      try_to_timestamp(name, lit("yyyy-MM-dd'T'HHmmss'Z'")))

  /** Driver-side (pure Scala) epoch-dir parse, for path discovery off the
    * DataFrame path. Accepts the same two formats.
    */
  def parseEpochDirNameScala(name: String): Option[LocalDateTime] = {
    val hyphenated = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm-ss")
    val compact    = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HHmmss'Z'")
    def tryFmt(f: DateTimeFormatter): Option[LocalDateTime] =
      try Some(LocalDateTime.parse(name, f)) catch { case _: Exception => None }
    tryFmt(hyphenated).orElse(tryFmt(compact))
  }

  /** ONIX ticks → HARP timestamp through a per-window linear sync model
    * (reference `spike_sorting.py:1124-1166` `indices2syncedtimes`,
    * `ephys_utils.py:682-683`: `harp = slope * onix + intercept`).
    * The model is a struct of coefficients, never a pickled object, so
    * prediction is one codegen'd arithmetic expression.
    */
  def onixToTimestamp(onixClock: Column, slope: Column, intercept: Column): Column =
    harpToTimestamp(slope * onixClock.cast("double") + intercept)

  /** Scala-side HARP conversion for tests. */
  def harpToInstant(harpSeconds: Double): Instant = {
    val micros = math.round((harpSeconds + HarpEpochOffsetSeconds.toDouble) * 1e6)
    Instant.EPOCH.plusNanos(micros * 1000L)
  }

  def instantToHarp(i: Instant): Double =
    i.getEpochSecond.toDouble + i.getNano / 1e9 - HarpEpochOffsetSeconds.toDouble
}
