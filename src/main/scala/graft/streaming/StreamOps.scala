package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Populate

/** Structured Streaming re-expression of the reference's incremental
  * semantics (SURVEY.md §2.9).
  *
  * The reference is a micro-batch incremental pipeline: 1-hour tumbling
  * chunks (`aeon/dj_pipeline/acquisition.py:500-511`), epochs that close only
  * when the successor appears (`acquisition.py:253-304`), and late-data
  * look-back repair (`acquisition.py:278-304`). Those map to tumbling
  * windows + watermarks + session windows here. Every transform is
  * batch/stream agnostic — it takes a DataFrame that may be `readStream`-
  * sourced, so the same code runs in the batch populate engine and in a
  * `Trigger.AvailableNow` incremental job (the Spark-native analogue of
  * `populate()` over new chunks).
  */
object StreamOps {

  /** Run one file-stream drain — the skeleton every drain in this package
    * shares, the engine's form of the reference's `populate()` over newly
    * landed chunks. Parquet files under `sourceDir` (read with `schema`;
    * file streams need one up front) are handed to `wave` one micro-batch
    * at a time, at most 64 files per batch, oldest first.
    *
    * Contract:
    *  - `Trigger.AvailableNow` drains exactly the backlog present when the
    *    call starts, then returns; files landing later wait for the next
    *    call;
    *  - `foreachBatch` is at-least-once: if `wave` throws, the exception
    *    surfaces here and the batch stays uncommitted in `checkpointDir`,
    *    so the next call re-delivers it, and a lost checkpoint re-delivers
    *    everything. Every wave must therefore append idempotently (keyed
    *    [[Populate.appendIdempotent]] or a late rule against persisted
    *    state) so a re-run converges to the fault-free tables;
    *  - `bindSourceFile = true` adds the landed file's path as column
    *    `__src`. File identity is bound at the SOURCE: inside `wave` the
    *    batch is a plain LogicalRDD and file lineage is gone.
    */
  def drainFiles(spark: SparkSession, sourceDir: String, schema: StructType,
                 checkpointDir: String, bindSourceFile: Boolean = false)
                (wave: DataFrame => Unit): Unit = {
    val files = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "64")
      .parquet(sourceDir)
    val source =
      if (bindSourceFile) files.withColumn("__src", col("_metadata.file_path"))
      else files
    // a typed Scala function picks foreachBatch's Scala overload (Scala
    // 2.13 cannot choose between it and the Java VoidFunction2 otherwise)
    val perBatch: (DataFrame, Long) => Unit = (batch, _) => wave(batch)
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(perBatch)
      .start()
      .awaitTermination()
  }

  /** The keyed wave: the per-key body the causal drains (Cusum, Hampel,
    * Episodes, bursts, Survival, Attribution, Resample) share, the
    * reference's `populate()` over new chunks re-expressed as a per-key
    * frontier. Each wave is one [[keyedRead]] and one [[commitWave]];
    * only the arithmetic between them is the drain's own. Contract:
    *  - late rule: batches are chronological per key, so a row at or
    *    before its key's persisted frontier is late and drops;
    *  - replay is a keyed no-op: a re-delivered batch (a retried wave or a
    *    lost checkpoint) is all late, so it derives nothing new, and every
    *    append is keyed;
    *  - outputs before state: a wave that fails mid-commit leaves the
    *    frontier where it was, so its retry re-derives the same rows
    *    instead of dropping them as late.
    *
    * The read attaches each row's prior state as `__st_<col>` (a bigint
    * null for a new key; every state column is a long), applies the late
    * rule against `__st_<stateCols.head>` (the frontier, compared with the
    * row's `us` column), runs `derive` (the drain's per-row arithmetic
    * over the fresh rows) and cuts the result with the wave's one
    * `localCheckpoint`, so no later action of the wave re-reads state.
    * `state` is `(key, stateCols…)`: a [[readLatest]] table or a per-key
    * frontier frame; `None` before the first wave.
    */
  def keyedRead(rows: DataFrame, state: Option[DataFrame],
                stateCols: Seq[String], us: String = "us",
                derive: DataFrame => DataFrame = identity): DataFrame = {
    val frontier = s"__st_${stateCols.head}"
    val joined = state match {
      case None => rows.select(col("*") +: stateCols.map(c =>
        lit(null).cast("long").as(s"__st_$c")): _*)
      case Some(st) => rows.join(st.select(col("key") +:
        stateCols.map(c => col(c).as(s"__st_$c")): _*), Seq("key"), "left")
    }
    derive(joined.filter(col(frontier).isNull || col(us) > col(frontier)))
      .localCheckpoint(true)
  }

  /** The keyed wave's commit: every output `(rows, table, pk)` first, in
    * order — appended idempotently on `pk`, or, with an empty `pk`,
    * replacing the table through [[Populate.replaceAtomic]]'s staged swap
    * — then the state, appended as `(key, stateCols…)` on `statePk`. With
    * `newestBy`, `state` holds candidate rows and each key's state row is
    * the newest by `struct(newestBy…)` ([[Populate.latestPerKey]]).
    */
  def commitWave(outputs: Seq[(DataFrame, String, Seq[String])],
                 state: DataFrame, stateDir: String, statePk: Seq[String],
                 stateCols: Seq[String], newestBy: Seq[String] = Nil): Unit = {
    outputs.foreach {
      case (rows, dir, Nil) => Populate.replaceAtomic(rows, dir)
      case (rows, dir, pk) => Populate.appendIdempotent(rows, dir, pk)
    }
    val latest =
      if (newestBy.isEmpty) state
      else Populate.latestPerKey(state, Seq("key"), newestBy)
    Populate.appendIdempotent(latest.select(("key" +: stateCols).map(col): _*),
      stateDir, statePk)
  }

  /** The newest row per `key` of an append-only keyed state table at
    * `stateDir`, read through [[Populate.readIfExists]] (so a state table
    * whose compaction crashed mid-swap reads its staged snapshot) and
    * reduced by [[Populate.latestPerKey]]: the argmax of
    * `struct(stateCols…)`, so `stateCols.head` (a `last_us`-style
    * frontier) decides and replayed or superseded appends are harmless.
    * Output `(key, stateCols…)`; `None` before the first wave wrote state.
    * Reads every past wave's rows — compaction is the caller's
    * ([[Populate.compactLatest]], which keeps the same newest row).
    */
  def readLatest(spark: SparkSession, stateDir: String,
                 stateCols: Seq[String]): Option[DataFrame] =
    Populate.readIfExists(spark, stateDir)
      .map(Populate.latestPerKey(_, Seq("key"), stateCols))

  /** Per-(key, 1-hour chunk) sample counts + bounds — the streaming Chunk
    * catalog (reference `Chunk` table). With a watermark, late rows beyond
    * `lateness` are dropped and the window state is bounded; the reference's
    * equivalent is the look-back closure repairing only epoch N-1.
    */
  def chunkCounts(events: DataFrame, tsCol: String, keys: Seq[String],
                  lateness: String = "2 hours"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, lateness) else events
    wm.groupBy((keys.map(col) :+ window(col(tsCol), "1 hour").as("chunk")): _*)
      .agg(count(lit(1)).as("sample_count"),
        min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))
      .select((keys.map(col) :+ col("chunk.start").as("chunk_start") :+
        col("chunk.end").as("chunk_end") :+ col("sample_count") :+
        col("first_ts") :+ col("last_ts")): _*)
  }

  /** Session windows by inactivity gap — the streaming form of
    * `Sessionize.byGap` (reference in-patch visits, `tracking.py:318-323`).
    */
  def sessionAgg(events: DataFrame, tsCol: String, keys: Seq[String],
                 gap: String = "30 minutes",
                 lateness: String = "1 hour"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, lateness) else events
    wm.groupBy((keys.map(col) :+ session_window(col(tsCol), gap).as("session")): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"))
      .select((keys.map(col) :+ col("session.start").as("window_start") :+
        col("session.end").as("window_end") :+ col("n_events") :+
        col("session_start") :+ col("session_end")): _*)
  }

  /** Streaming look-back REPAIR (§2.9 row 4): when epoch N arrives, the
    * still-open epoch N−1 is re-emitted CLOSED with its corrected end —
    * the reference's `acquisition.py:278-304` semantics (epoch end is only
    * knowable from its successor's start; the reference UPDATEs the prior
    * epoch's row on ingest of the next), not merely a watermark drop.
    *
    * Custom state via `flatMapGroupsWithState` keyed by experiment: the state
    * is the single open epoch start (a few bytes per experiment — bounded
    * regardless of stream length). Each batch merges incoming starts with the
    * open one, emits a closure row per consecutive pair, and keeps the max
    * open. Re-delivered starts dedup inside the batch+state merge
    * (at-least-once safe); an epoch arriving out-of-order BEFORE the open one
    * closes against it (the reference repairs exactly one epoch back, same
    * here — rewriting epochs already closed would need a retracting sink).
    *
    * Batch-equivalence (StreamingSpec): the union of closure rows across any
    * batch split equals `BronzeIngest.epochsWithClosure(...)` restricted to
    * non-null ends. Works in batch mode too (state starts empty, one group
    * pass), so the same code serves the populate engine.
    *
    * Output: (experimentCol, startCol, epoch_end, epoch_duration_s).
    */
  def epochClosures(epochStarts: DataFrame,
                    experimentCol: String = "experiment",
                    startCol: String = "epoch_start"): DataFrame = {
    val spark = epochStarts.sparkSession
    import spark.implicits._
    val pairs = epochStarts
      .select(col(experimentCol).cast("string"),
        unix_micros(col(startCol).cast("timestamp")))
      .as[(String, Long)]
    val closures = pairs.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (exp: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val open = if (state.exists) Seq(state.get) else Seq.empty[Long]
          val all = (open ++ rows.map(_._2)).distinct.sorted
          if (all.isEmpty) Iterator.empty
          else {
            state.update(all.last)
            all.sliding(2).collect { case Seq(a, b) => (exp, a, b) }
          }
      }
    closures.toDF("__exp", "__start_us", "__end_us")
      .select(col("__exp").as(experimentCol),
        timestamp_micros(col("__start_us")).as(startCol),
        timestamp_micros(col("__end_us")).as("epoch_end"),
        ((col("__end_us") - col("__start_us")).cast("double") / 1e6)
          .as("epoch_duration_s"))
  }

  /** Rolling per-key column stats over tumbling windows (streaming form of
    * the per-chunk summary stats, `utils/stats.py:14-23`).
    *
    * @param valueScale when > 0, values are declared to sit on a
    *   10^-valueScale decimal grid (sensor readings, prices) and the mean
    *   is computed from an EXACT integer-scaled sum: partial aggregates
    *   are int64 — order-free and associative, so the result cannot drift
    *   across partial-aggregation order, task retries, or engines (a plain
    *   double `avg` is accumulation-order-dependent in its last ulp, which
    *   can cross the display-rounding boundary — caught by the sf0.001
    *   q82 run). 0 = general doubles, plain avg.
    */
  def windowedStats(events: DataFrame, tsCol: String, valueCol: String,
                    keys: Seq[String], width: String = "1 hour",
                    lateness: String = "2 hours",
                    valueScale: Int = 0): DataFrame = {
    require(valueScale >= 0 && valueScale <= 4, "valueScale in [0, 4]")
    val wm = if (events.isStreaming) events.withWatermark(tsCol, lateness) else events
    val grouped = wm.groupBy(
      (keys.map(col) :+ window(col(tsCol), width).as("w")): _*)
    val agged =
      if (valueScale > 0) {
        // exact int64 sum on the declared grid; the 4-decimal mean is then
        // rounded IN INTEGER SPACE (half away from zero) and divided once
        // — `round(double, 4)` on an exact .xxxx5 half-point is
        // engine-specific (Spark rounds the shortest decimal repr HALF_UP,
        // DuckDB rounds the scaled binary double), so no double may carry
        // a half-point into a rounding call
        val f = math.pow(10, valueScale) // exact power of ten in double
        val p = math.pow(10, 4 - valueScale).toLong
        grouped.agg(count(col(valueCol)).as("count"),
            min(col(valueCol)).as("min"), max(col(valueCol)).as("max"),
            sum(round(col(valueCol) * lit(f), 0).cast("long")).as("__s"))
          .withColumn("__num", col("__s") * lit(p))
          .withColumn("mean",
            (expr("(abs(__num) * 2 + count) div (2 * count)") *
              when(col("__num") < 0, lit(-1L)).otherwise(lit(1L)))
              .cast("double") / lit(10000.0))
          .drop("__s", "__num")
      } else grouped.agg(count(col(valueCol)).as("count"),
        min(col(valueCol)).as("min"), max(col(valueCol)).as("max"),
        round(avg(col(valueCol)), 4).as("mean"))
    agged.select((keys.map(col) :+ col("w.start").as("window_start") :+
      col("count") :+ col("min") :+ col("max") :+ col("mean")): _*)
  }
}
