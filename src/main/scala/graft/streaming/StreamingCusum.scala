package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming/incremental twin of [[graft.operators.Behavior.cusum]] — the
  * cleanest drain in the pack, BECAUSE the batch operator already runs on
  * the closed form: `S = P − min(0, min_prefix(P))` needs only the key's
  * running prefix sum and running prefix-minimum, and BOTH compose across
  * chronological waves with two `+`/`least` ops. State per key is exactly
  * three longs: `(last_us, pf, mn)`.
  *
  * Per wave: local prefix sums over the batch offset by the carried `pf`,
  * running minimum as `least(carried mn, carried pf + local running min)`,
  * alarms (`s_micro >= threshold`) appended idempotently on
  * `(key, us, tie)`. The late rule, replay and commit order are the
  * keyed-wave contract of [[StreamOps.keyedRead]]: rows at or before the
  * key's persisted `last_us` drop, so a replayed batch is a keyed no-op.
  *
  * At 100 TB: wave cost is one keyed window over the BATCH; state is
  * |keys| rows per wave (compactable); nothing ever re-reads the corpus —
  * change detection over an unbounded signal store with O(1) state per
  * key, the pay-off of keeping the recursion in closed form.
  */
object StreamingCusum {

  def drain(spark: SparkSession, sourceDir: String, alarmsDir: String,
            stateDir: String, checkpointDir: String,
            keyCol: String, tsCol: String, tieCol: String,
            valueMicroCol: String,
            schema: org.apache.spark.sql.types.StructType,
            driftMicro: Long, thresholdMicro: Long): Unit = {
    require(thresholdMicro > 0, "thresholdMicro must be positive")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val rows = batch.select(col(keyCol).as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(tieCol).as("tie"), col(valueMicroCol).cast("long").as("vm"))
      val w = Window.partitionBy("key").orderBy(col("us"), col("tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pf0 = coalesce(col("__st_pf"), lit(0L))
      val scored = StreamOps.keyedRead(rows,
          StreamOps.readLatest(spark, stateDir, StateCols), StateCols,
          derive = _.withColumn("__lp", sum(col("vm") - lit(driftMicro)).over(w))
            .withColumn("pf", pf0 + col("__lp"))
            .withColumn("mn", least(coalesce(col("__st_mn"), lit(Long.MaxValue)),
              pf0 + min(col("__lp")).over(w)))
            .withColumn("s_micro", col("pf") - least(lit(0L), col("mn"))))
      val alarms = scored.filter(col("s_micro") >= thresholdMicro)
        .select("key", "us", "tie", "s_micro")
      StreamOps.commitWave(Seq((alarms, alarmsDir, Seq("key", "us", "tie"))),
        scored.withColumnRenamed("us", "last_us"), stateDir,
        Seq("key", "last_us"), StateCols,
        newestBy = Seq("last_us", "tie", "pf", "mn"))
    }
  }

  /** The state row: the key's newest `(last_us, pf, mn)`. */
  private val StateCols = Seq("last_us", "pf", "mn")

  /** The drained alarm table, `(key, us, tie, s_micro)`. */
  def loadAlarms(spark: SparkSession, alarmsDir: String): DataFrame =
    spark.read.parquet(alarmsDir)
}
