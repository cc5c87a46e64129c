package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Populate

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
  * `(key, us, tie)`. The late rule and replay behavior are the
  * [[StreamingResample]] contract: rows at or before the key's persisted
  * `last_us` drop, so a replayed batch is a keyed no-op.
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
      val state = StreamOps.readLatest(spark, stateDir,
        Seq("last_us", "pf", "mn"))
      val joined = state match {
        case None => rows
          .withColumn("last_us", lit(null).cast("long"))
          .withColumn("pf0", lit(null).cast("long"))
          .withColumn("mn0", lit(null).cast("long"))
        case Some(st) => rows.join(
          st.select(col("key"), col("last_us"), col("pf").as("pf0"),
            col("mn").as("mn0")), Seq("key"), "left")
      }
      val w = Window.partitionBy("key").orderBy(col("us"), col("tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = joined
        .filter(col("last_us").isNull || col("us") > col("last_us"))
        .withColumn("__lp", sum(col("vm") - lit(driftMicro)).over(w))
        .withColumn("__p", coalesce(col("pf0"), lit(0L)) + col("__lp"))
        .withColumn("__m", least(
          coalesce(col("mn0"), lit(Long.MaxValue)),
          coalesce(col("pf0"), lit(0L)) + min(col("__lp")).over(w)))
        .withColumn("s_micro", col("__p") - least(lit(0L), col("__m")))
        .localCheckpoint(true)
      val alarms = scored.filter(col("s_micro") >= thresholdMicro)
        .select("key", "us", "tie", "s_micro")
      Populate.appendIdempotent(alarms, alarmsDir, Seq("key", "us", "tie"))
      val newState = scored.groupBy("key")
        .agg(max(struct(col("us"), col("tie"), col("__p"), col("__m")))
          .as("__s"))
        .select(col("key"), col("__s.us").as("last_us"),
          col("__s.__p").as("pf"), col("__s.__m").as("mn"))
      Populate.appendIdempotent(newState, stateDir, Seq("key", "last_us"))
    }
  }

  /** The drained alarm table, `(key, us, tie, s_micro)`. */
  def loadAlarms(spark: SparkSession, alarmsDir: String): DataFrame =
    spark.read.parquet(alarmsDir)
}
