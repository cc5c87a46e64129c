package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Resample

/** Streaming/incremental twin of [[Resample.linearGrid]] (the drain
  * discipline applied to grid resampling): sample files land in
  * chronological waves, each micro-batch resamples ONLY the grid points its
  * new samples close, bracketing across the batch boundary through a
  * persisted per-key last-sample state — the corpus is never re-read and
  * the final drained grid equals the one-shot operator row-for-row
  * (spec-pinned, StreamingResampleSpec).
  *
  * Semantics:
  *  - batches are assumed chronological per key (acquisition streams land
  *    in time order); a batch row at or before the key's persisted last
  *    sample is LATE and is dropped, the watermark rule every windowed
  *    stream here follows — which also makes a re-delivered batch a no-op
  *    rather than a corruption (the StreamingRetrieval re-delivery lesson);
  *  - per key and batch, emitted grid points are exactly those in
  *    `(state.t, batch_max]`: their backward bracket is the state sample or
  *    a batch sample by construction (state.t is the max of all earlier
  *    samples), so bracketing needs nothing older than the state row;
  *  - duplicate `(key, ts)` samples collapse within a wave; a duplicate
  *    group straddling waves would need re-emission and is instead cut by
  *    the late rule (second half dropped).
  *
  * Durability = checkpoint + both tables, all idempotent (the keyed-wave
  * contract of [[StreamOps.keyedRead]]): the grid appends on
  * `(key, grid_ts)` before the state appends on `(key, t)`, which reads
  * as max-t per key, so replays after checkpoint loss re-derive identical
  * rows into keyed no-op appends.
  *
  * At 100 TB: state is |keys| rows per wave (compactable), each wave's
  * work is one window over (state ∪ batch) — cost scales with the batch,
  * not the corpus.
  */
object StreamingResample {

  /** Drain newly-landed sample files from `sourceDir` into the resampled
    * grid table at `gridDir`, with per-key last-sample state at `stateDir`.
    * Returns once the backlog is drained (AvailableNow).
    */
  def drain(spark: SparkSession, sourceDir: String, gridDir: String,
            stateDir: String, checkpointDir: String,
            keyCol: String, tsCol: String, valueCol: String,
            schema: org.apache.spark.sql.types.StructType,
            stepMicros: Long): Unit = {
    require(stepMicros > 0, "stepMicros must be > 0")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val state = StreamOps.readLatest(spark, stateDir, StateCols)
      val fresh = StreamOps.keyedRead(
        Resample.collapseMicro(batch, keyCol, tsCol, valueCol), state,
        StateCols, us = "t")
      val samples = fresh.select("key", "t", "v")
      // before the first wave nothing is carried and nothing was emitted,
      // so the first wave skips the carried rows' aggregate and join
      val out = if (state.isEmpty) Resample.linearGridMicro(samples, stepMicros)
      else {
        // each touched key's prior sample (null for a new key): the
        // carried backward bracket, and the bound of the grid points
        // already emitted
        val prior = fresh.select("key", "__st_t", "__st_v").distinct()
        val carried = prior.filter(col("__st_t").isNotNull)
          .select(col("key"), col("__st_t").as("t"), col("__st_v").as("v"))
        Resample.linearGridMicro(samples.unionByName(carried), stepMicros)
          .join(prior, "key")
          .filter(col("__st_t").isNull ||
            unix_micros(col("grid_ts")) > col("__st_t"))
          .select("key", "grid_ts", "value_micro")
      }
      StreamOps.commitWave(Seq((out, gridDir, Seq("key", "grid_ts"))),
        fresh, stateDir, Seq("key", "t"), StateCols, newestBy = StateCols)
    }
  }

  /** State is the key's newest `(key, t, v)` row — an argmax over the
    * append-only table, so replayed appends are harmless. */
  private val StateCols = Seq("t", "v")

  /** The drained grid table, `(key, grid_ts, value_micro)`. */
  def loadGrid(spark: SparkSession, gridDir: String): DataFrame =
    spark.read.parquet(gridDir)
}
