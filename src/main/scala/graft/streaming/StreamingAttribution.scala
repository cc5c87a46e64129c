package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Populate

/** Streaming/incremental twin of
  * [[graft.operators.Behavior.attribution]] (the drain discipline):
  * event files land in chronological waves; each micro-batch attributes
  * its NEW conversions against the union of the batch's own touches and a
  * persisted per-key touch buffer, the corpus is never re-read, and the
  * drained table after the final wave equals the one-shot operator
  * row-for-row (StreamingAttributionSpec + the q224 oracle, which replays
  * the batch query's SQL verbatim).
  *
  * Why the state is bounded: attribution's whole memory is the lookback
  * RANGE frame `[conv_us − windowSec, conv_us]` — a conversion can never
  * reach a touch more than `windowSec` behind the key's frontier, so the
  * buffer keeps exactly the touch rows with `us ≥ frontier − windowSec`
  * (plus the `(key, last_us)` frontier itself for the late rule). State
  * per key is O(touches per lookback window), set by the window and the
  * key's rate — never by stream length.
  *
  * Late rule (the keyed-wave contract of [[StreamOps.keyedRead]]): rows
  * at or before the key's persisted `last_us` drop, so a replayed batch
  * is a keyed no-op; attributed conversions append idempotently on
  * `(key, tie, conv_us)`, then the buffer, then the frontier.
  * The touch buffer is window-bounded ON DISK, not just logically
  * (ADVICE r11): the read filters to `us ≥ frontier − windowUs` before
  * the union — an older touch can never fall inside a NEW conversion's
  * lookback frame, since new rows all sit past the frontier — and each
  * wave publishes exactly the surviving in-window rows back through
  * [[graft.operators.Populate.replaceAtomic]]'s crash-safe staged swap,
  * so aged-out rows are compacted away instead of accumulating as dead
  * files. A replayed wave recomputes the identical buffer content
  * (fresh is empty under the late rule), so the replace is idempotent.
  *
  * At 100 TB: each wave costs one keyed window pass over
  * (batch ∪ in-window buffer) — O(batch + lookback window) per key, set
  * by the window and the key's rate, never by all-time touch volume —
  * and the RANGE frame keeps the same tie-order-insensitive determinism
  * as the batch operator.
  */
object StreamingAttribution {

  def attributionDrain(spark: SparkSession, sourceDir: String,
                       attributedDir: String, touchesDir: String,
                       frontierDir: String, checkpointDir: String,
                       keyCol: String, tsCol: String, tieCol: String,
                       typeCol: String,
                       schema: org.apache.spark.sql.types.StructType,
                       touchTypes: Seq[String], conversionType: String,
                       windowSec: Long): Unit = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(conversionType),
      "the conversion type cannot also be a touch type")
    require(windowSec > 0, "windowSec must be positive")
    val windowUs = windowSec * 1000000L

    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val rows = batch.select(col(keyCol).as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(tieCol).as("tie"), col(typeCol).as("ty"))
      val frontier = StreamOps.readLatest(spark, frontierDir, Seq("last_us"))
      val fresh = StreamOps.keyedRead(rows, frontier, Seq("last_us"))
        .select("key", "us", "tie", "ty")
      // window-bound the buffer READ: new rows all have us > frontier,
      // so a touch with us < frontier − windowUs can never fall inside
      // any new conversion's lookback frame — the wave's window pass is
      // O(batch ∪ in-window buffer) regardless of all-time touch volume
      val buffered = Populate.readIfExists(spark, touchesDir)
        .map { b =>
          val sel = b.select("key", "us", "tie", "ty")
          frontier match {
            case None => sel
            case Some(f) => sel.join(f, Seq("key"), "left")
              .filter(col("last_us").isNull ||
                col("us") >= col("last_us") - windowUs)
              .select("key", "us", "tie", "ty")
          }
        }
      val all = (buffered match {
        case None => fresh.withColumn("__new", lit(true))
        case Some(b) => b.withColumn("__new", lit(false))
          .unionByName(fresh.withColumn("__new", lit(true)))
      }).localCheckpoint(true)
      val w = Window.partitionBy("key").orderBy(col("us"))
        .rangeBetween(-windowUs, 0L)
      val isTouch = col("ty").isin(touchTypes.map(x => x: Any): _*)
      val touchStruct = when(isTouch,
        struct(col("us").as("u"), col("tie").as("i"), col("ty").as("t")))
      val attributed = all
        .withColumn("__lt", max(touchStruct).over(w))
        .withColumn("__ft", min(touchStruct).over(w))
        .withColumn("__nt", sum(isTouch.cast("long")).over(w))
        .filter(col("__new") && col("ty") === conversionType &&
          col("__nt") > 0)
        .select(col("key"), col("tie"), col("us").as("conv_us"),
          col("__nt").as("n_touches"),
          col("__ft.t").as("first_touch_type"),
          col("__ft.u").as("first_touch_us"),
          col("__lt.t").as("last_touch_type"),
          col("__lt.u").as("last_touch_us"))
      // keep only the touches in window of the key's advanced frontier:
      // its newest row this wave, else its buffered rows, which the read
      // already bounded by the old frontier
      val keep = all
        .withColumn("__f", max(col("us")).over(Window.partitionBy("key")))
        .filter(isTouch && col("us") >= col("__f") - windowUs)
        .select("key", "us", "tie", "ty")
        .dropDuplicates("key", "us", "tie")
      // publish the COMPLETE in-window buffer (aged-out rows compact
      // away each wave), then advance the frontier; crash-safe and
      // replay-idempotent — a re-run wave recomputes identical content
      // from (empty fresh) ∪ buffer
      StreamOps.commitWave(Seq(
          (attributed, attributedDir, Seq("key", "tie", "conv_us")),
          (keep, touchesDir, Nil)),
        fresh.select(col("key"), col("us").as("last_us")), frontierDir,
        Seq("key", "last_us"), Seq("last_us"), newestBy = Seq("last_us"))
    }
  }

  /** The drained attribution table,
    * `(key, tie, conv_us, n_touches, first/last touch type + µs)`. */
  def loadAttributed(spark: SparkSession, attributedDir: String): DataFrame =
    spark.read.parquet(attributedDir)
}
