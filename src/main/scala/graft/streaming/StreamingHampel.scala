package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Populate

/** Streaming/incremental twin of
  * [[graft.operators.Robust.hampelFilterTrailing]] (the drain
  * discipline): signal files land in chronological waves; each
  * micro-batch despikes its NEW rows against a persisted per-key buffer
  * of the last `window − 1` samples, the corpus is never re-read, and
  * the drained table after the final wave equals the one-shot trailing
  * filter row-for-row (StreamingHampelSpec + the drain query's oracle,
  * which replays the BATCH SQL verbatim).
  *
  * Why this drains and the centered filter does not: the trailing window
  * is CAUSAL — a row's statistic is fully determined by itself and the
  * `window − 1` rows before it, so a bounded per-key tail buffer is the
  * operator's entire memory, and nothing ever revises. (The centered
  * q227 form reads `half` FUTURE rows; a drain of it would emit rows
  * `half` behind the frontier and still could not reproduce the one-shot
  * truncated-edge semantics at the true end of data.)
  *
  * Late rule (the keyed-wave contract of [[StreamOps.keyedRead]]): rows
  * at or before the key's newest buffered `us` drop, so a replayed batch
  * is a keyed no-op; scored rows append idempotently on `(key, us, tie)`,
  * before the buffer. Buffer appends are idempotent on the same key;
  * superseded buffer rows stop being selected (rank over the read-back
  * takes the newest `window − 1` per key) and are compaction dead weight,
  * never a wrong answer.
  *
  * At 100 TB: each wave costs one keyed window pass over
  * (batch ∪ tail buffer) — O(batch + keys·window) rows — with the same
  * bounded per-row order statistics as the batch operator.
  */
object StreamingHampel {

  def drain(spark: SparkSession, sourceDir: String, scoredDir: String,
            bufferDir: String, checkpointDir: String,
            keyCol: String, tsCol: String, tieCol: String,
            valueMicroCol: String,
            schema: org.apache.spark.sql.types.StructType,
            window: Int, k: Int = 3): Unit = {
    require(window >= 2, "window must be >= 2 rows")
    require(k >= 1, "k must be >= 1")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val rows = batch.select(col(keyCol).as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(tieCol).as("tie"), col(valueMicroCol).cast("long").as("vm"))
      val buffer = Populate.readIfExists(spark, bufferDir)
        .map(tailPerKey(_, window - 1))
      val fresh = StreamOps.keyedRead(rows,
          buffer.map(Populate.latestPerKey(_, Seq("key"), Seq("us"))), Seq("us"))
        .select("key", "us", "tie", "vm")
      val all = (buffer match {
        case None => fresh.withColumn("__new", lit(true))
        case Some(b) => b.withColumn("__new", lit(false))
          .unionByName(fresh.withColumn("__new", lit(true)))
      }).localCheckpoint(true)
      val scored = graft.operators.Robust.hampelFilterTrailing(
          all.withColumn("__ts", timestamp_micros(col("us"))),
          "key", "__ts", "tie", "vm", window, k)
        .filter(col("__new"))
        .select("key", "us", "tie", "vm", "med2", "mad2", "is_outlier")
      val newTail = tailPerKey(
        all.select("key", "us", "tie", "vm"), window - 1)
      StreamOps.commitWave(Seq((scored, scoredDir, Seq("key", "us", "tie"))),
        newTail, bufferDir, Seq("key", "us", "tie"), Seq("us", "tie", "vm"))
    }
  }

  /** The drained scored table, `(key, us, tie, vm, med2, mad2,
    * is_outlier)`. */
  def loadScored(spark: SparkSession, scoredDir: String): DataFrame =
    spark.read.parquet(scoredDir)

  /** The newest `n` rows per key by `(us, tie)` — replayed buffer appends
    * are harmless duplicates the PK dedup already dropped. */
  private def tailPerKey(rows: DataFrame, n: Int): DataFrame =
    rows.withColumn("__rk", row_number().over(
        Window.partitionBy("key")
          .orderBy(col("us").desc, col("tie").desc)))
      .filter(col("__rk") <= n)
      .drop("__rk")
}
