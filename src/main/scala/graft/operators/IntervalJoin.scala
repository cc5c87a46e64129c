package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-overlap and temporal-validity (point-in-interval) joins
  * (SURVEY.md J3/J4).
  *
  * Reference sites: sync windows covering an ONIX range
  * (`aeon/dj_pipeline/ephys.py:620-628`), Bno055 files overlapping a sync
  * window (`aeon/dj_pipeline/utils/onix_imu.py:89-134`), chunk × device
  * installation interval (`aeon/dj_pipeline/utils/streams_maker.py:202-216`).
  *
  * Scale design: open-source Spark plans a pure range-predicate join as a
  * broadcast-nested-loop (small side) or cartesian product (neither small) —
  * unusable at 100 TB. The scale path here decomposes each interval into the
  * fixed-width buckets it covers (`sequence(floor(s/w), floor(e/w))` +
  * `explode`) and equi-joins on the bucket id, turning the theta join into a
  * shuffled hash join whose fan-out is `interval_length / bucketWidth`. Pairs
  * spanning multiple shared buckets are deduplicated before the final exact
  * overlap filter.
  */
object IntervalJoin {

  /** Point-in-interval (temporal validity) join: left rows matched to right
    * intervals with `point >= start && point < coalesce(end, +inf)`.
    * The dimension side (right: device installs, sync windows, paramsets) is
    * small by construction, so it is broadcast — zero shuffle on the fact side.
    *
    * @param inclusiveEnd closed upper bound (`point <= end`). The default is
    *                     half-open (validity intervals, chunk boundaries);
    *                     sync-window containment is closed because the end is
    *                     an *observed* clock sample — a spike exactly at the
    *                     window's last sync sample must match
    *                     (`ephys.py:625` `BETWEEN onix_ts_start AND
    *                     onix_ts_end`, `spike_sorting.py:1156`
    *                     `spk_times <= end`).
    */
  def pointInInterval(left: DataFrame, right: DataFrame,
                      point: Column, start: Column, end: Column,
                      joinType: String = "inner",
                      extraCond: Column = lit(true),
                      inclusiveEnd: Boolean = false): DataFrame = {
    val upper = if (inclusiveEnd) point <= end else point < end
    val cond = point >= start && (end.isNull || upper) && extraCond
    left.join(broadcast(right), cond, joinType)
  }

  /** Exact overlap join via bucket decomposition (the 100 TB path).
    * Overlap predicate: `lStart <= rEnd && rStart <= lEnd` (closed intervals,
    * matching the reference's `first <= end AND last >= start` at
    * `onix_imu.py:131-133`).
    *
    * @param bucketWidth bucket size in the units of the interval columns
    *                    (ticks, epoch-micros, ...). Choose ≈ the typical
    *                    interval length so fan-out stays ~2.
    * @param leftKeys    columns uniquely identifying a left row (for dedup)
    * @param rightKeys   columns uniquely identifying a right row
    * @param equiKeys    additional equality keys shared by both sides (joined
    *                    alongside the bucket id — e.g. user/device id)
    * @param openEndHorizon value substituted for a NULL end (open interval:
    *                    still-installed device, unclosed epoch) so open
    *                    intervals participate in the bucketed path just like
    *                    [[pointInInterval]] treats them as +inf. Without it a
    *                    NULL end is an ERROR — `sequence(start, null)` would
    *                    otherwise silently drop the row at explode.
    */
  def overlapBucketed(left: DataFrame, right: DataFrame,
                      lStart: String, lEnd: String,
                      rStart: String, rEnd: String,
                      bucketWidth: Long,
                      leftKeys: Seq[String], rightKeys: Seq[String],
                      equiKeys: Seq[String] = Seq.empty,
                      openEndHorizon: Option[Long] = None): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // NULL end = open interval. Cap at the caller's horizon, or fail loudly —
    // never silently drop (sequence(s, null) -> null -> explode eliminates).
    def capEnd(e: Column): Column = openEndHorizon match {
      case Some(h) => coalesce(e, lit(h))
      case None => when(e.isNotNull, e).otherwise(raise_error(lit(
        "overlapBucketed: NULL interval end (open interval); pass " +
          "openEndHorizon to cap open intervals at a horizon")))
    }
    def withBuckets(df: DataFrame, s: String, e: String, bucketName: String): DataFrame =
      df.withColumn(bucketName,
        explode(sequence(
          floor(col(s).cast("double") / bucketWidth).cast("long"),
          floor(capEnd(col(e)).cast("double") / bucketWidth).cast("long"))))

    val lb = withBuckets(left, lStart, lEnd, "__bucket")
    val rb = withBuckets(
      right.withColumnsRenamed(right.columns.map(c => c -> s"__r_$c").toMap),
      s"__r_$rStart", s"__r_$rEnd", "__r_bucket")

    val cond = (Seq(
      col("__bucket") === col("__r_bucket"),
      col(lStart) <= capEnd(col(s"__r_$rEnd")),
      col(s"__r_$rStart") <= capEnd(col(lEnd))) ++
      equiKeys.map(k => col(k) === col(s"__r_$k"))).reduce(_ && _)
    // equiKeys already exist (identically) on the left side: drop the right
    // copies instead of renaming them back, which would duplicate the name.
    lb.join(rb, cond)
      .drop("__bucket", "__r_bucket")
      .dropDuplicates(leftKeys ++ rightKeys.map(k => s"__r_$k"))
      .drop(equiKeys.map(k => s"__r_$k"): _*)
      .withColumnsRenamed(
        right.columns.filterNot(equiKeys.contains).map(c => s"__r_$c" -> c).toMap)
  }
}
