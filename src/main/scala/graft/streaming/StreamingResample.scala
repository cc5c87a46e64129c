package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Populate, Resample}

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
  * Durability = checkpoint + both tables, all idempotent: the grid appends
  * on `(key, grid_ts)`, the state appends on `(key, t)` and reads as
  * max-t per key, so replays after checkpoint loss re-derive identical
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
      // three downstream actions re-derive the collapsed batch (the grid
      // append, the carried-keys union inside it, and the state append):
      // cut it once per wave instead of collapsing the batch three times
      val samples = Resample.collapseMicro(batch, keyCol, tsCol, valueCol)
        .localCheckpoint(true)
      val state = StreamOps.readLatest(spark, stateDir, StateCols)
      val (kept, withState) = state match {
        case None => (samples, samples)
        case Some(st) =>
          val stKeyed = st.select(col("key"), col("t").as("__st_t"),
            col("v").as("__st_v"))
          val k = samples.join(stKeyed, Seq("key"), "left")
            .filter(col("__st_t").isNull || col("t") > col("__st_t"))
            .select("key", "t", "v")
          val carried = stKeyed
            .join(k.select("key").distinct(), Seq("key"))
            .select(col("key"), col("__st_t").as("t"),
              col("__st_v").as("v"))
          (k, k.unionByName(carried))
      }
      val out0 = Resample.linearGridMicro(withState, stepMicros)
      val out = state match {
        case None => out0
        case Some(st) =>
          out0.join(st.select(col("key"), col("t").as("__st_t")),
              Seq("key"), "left")
            .filter(col("__st_t").isNull ||
              unix_micros(col("grid_ts")) > col("__st_t"))
            .select("key", "grid_ts", "value_micro")
      }
      Populate.appendIdempotent(out, gridDir, Seq("key", "grid_ts"))
      val newState = Populate.latestPerKey(kept, Seq("key"), StateCols)
      Populate.appendIdempotent(newState, stateDir, Seq("key", "t"))
    }
  }

  /** State is the key's newest `(key, t, v)` row — an argmax over the
    * append-only table, so replayed appends are harmless. */
  private val StateCols = Seq("t", "v")

  /** The drained grid table, `(key, grid_ts, value_micro)`. */
  def loadGrid(spark: SparkSession, gridDir: String): DataFrame =
    spark.read.parquet(gridDir)
}
