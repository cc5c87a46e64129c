package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Populate

/** Streaming funnel matching — [[graft.operators.Behavior.funnel]]'s
  * incremental twin: per-user running (anchors, completions) maintained
  * with `flatMapGroupsWithState`, so a live event stream reports funnel
  * conversion without ever re-scanning history.
  *
  * State per user: the pending (incomplete, unexpired) anchor chains —
  * each `(anchorUs, lastUs, nextStepIdx)` — plus the two running counts.
  * The state is BOUNDED by the funnel window regardless of stream length:
  * an anchor older than `windowSec` can never complete and is dropped the
  * moment a later event arrives.
  *
  * Semantics match the batch operator exactly (spec-pinned across
  * arbitrary wave splits): events process in (ts, type) order; a chain
  * advances on the FIRST event of its needed step STRICTLY later than its
  * last matched timestamp (ties cannot advance — the batch walk's
  * value-RANGE frame excludes equal timestamps), and completion requires
  * the whole chain inside `windowSec` of the anchor (inclusive). Late
  * rows arriving AFTER a later-ts batch can undercount — the same
  * append-mode late-data caveat the StreamOps twins document; a watermark
  * bounds it in production.
  *
  * Output (Update mode): one `(userCol, n_anchors, n_completed,
  * conversion_pct)` row per touched user per batch — counts are
  * monotone, so the latest row is the truth. Works in batch mode too
  * (state starts empty, one group pass).
  */
object StreamingBehavior {

  def funnelCounts(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(windowSec > 0, "windowSec must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val nSteps = steps.size
    val windowUs = windowSec * 1000000L
    // Key the state on the RAW value rendered as string — NOT cast("long"):
    // a long cast turns non-integral ids (strings, UUIDs) into null and
    // silently collapses all such users into one shared funnel state. The
    // string form is a faithful group identity for any key type; the output
    // column is cast back to the input's type below, so integral callers
    // see an unchanged schema.
    val userType = events.schema(events.schema.fieldIndex(userCol)).dataType
    val rows = events.select(col(userCol).cast("string"),
      unix_micros(col(tsCol).cast("timestamp")), col(typeCol).cast("string"))
      .as[(String, Long, String)]
    val out = rows.groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Long, Int)], Long, Long),
        (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: String, it: Iterator[(String, Long, String)],
         state: GroupState[(Seq[(Long, Long, Int)], Long, Long)]) =>
          var (pending, anchors, completed) =
            if (state.exists) state.get
            else (Seq.empty[(Long, Long, Int)], 0L, 0L)
          it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, us, tp) =>
            // expired chains can never complete once a later event exists
            pending = pending.filter { case (a, _, _) => a + windowUs >= us }
            stepIdx.get(tp) match {
              case Some(0) =>
                anchors += 1
                pending = pending :+ ((us, us, 1))
              case Some(k) =>
                // strictly-later rule: equal timestamps cannot advance
                val (adv, keep) = pending.partition { case (_, last, idx) =>
                  idx == k && us > last
                }
                val stepped = adv.map { case (a, _, _) => (a, us, k + 1) }
                val (done, cont) = stepped.partition(_._3 == nSteps)
                completed += done.size
                pending = keep ++ cont
              case None => ()
            }
          }
          state.update((pending, anchors, completed))
          Iterator((user, anchors, completed))
      }
    // a user can surface before its first anchor (a batch of non-anchor
    // events) — conversion is 0 there, not a division error
    out.toDF(userCol, "n_anchors", "n_completed")
      .withColumn(userCol, col(userCol).cast(userType))
      .withColumn("conversion_pct",
        when(col("n_anchors") > 0,
          expr("100 * n_completed div n_anchors")).otherwise(0L))
  }

  /** Streaming/incremental twin of
    * [[graft.operators.Behavior.thresholdBursts]] (the drain discipline):
    * event files land in chronological waves; each micro-batch detects
    * upward threshold crossings and chains them into bursts ACROSS the
    * batch boundary through a persisted per-key state row, the corpus is
    * never re-read, and [[loadBursts]] after the final wave equals the
    * one-shot operator row-for-row (StreamingBurstsSpec).
    *
    * All values are exact integer micros (`valueMicroCol`), so state
    * round-trips through parquet bit-exactly.
    *
    * State per key (append-only, read as argmax over `last_us`): the last
    * SEEN row's `(last_us, last_vm)` — crossing detection needs the
    * previous value even when it wasn't a crossing — plus the OPEN burst
    * (`ob_id, ob_n, ob_start_us, ob_end_us, ob_peak`, null `ob_id` if the
    * key never crossed). A burst is never "closed by silence": only a
    * later crossing beyond `gapSeconds` closes it (exactly the one-shot
    * semantics, where every burst is open until the data ends), so closed
    * bursts append to `burstsDir` and the newest island stays in state.
    *
    * Late rule (the keyed-wave contract of [[StreamOps.keyedRead]]): a
    * row at or before the key's persisted `last_us` is dropped — which
    * also makes a replayed batch after checkpoint loss a keyed no-op
    * rather than a corruption — and closed bursts append before state.
    *
    * At 100 TB: state is |keys| rows per wave (compactable via
    * [[graft.operators.Populate]]'s keyed-state compaction); each wave
    * costs two keyed window passes over the BATCH, not the corpus.
    */
  def burstDrain(spark: SparkSession, sourceDir: String, burstsDir: String,
                 stateDir: String, checkpointDir: String,
                 keyCol: String, tsCol: String, tieCol: String,
                 valueMicroCol: String,
                 schema: org.apache.spark.sql.types.StructType,
                 thresholdMicro: Long, gapSeconds: Long): Unit = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    val gapMicros = gapSeconds * 1000000L
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val rows = batch.select(col(keyCol).as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(tieCol).as("tie"), col(valueMicroCol).cast("long").as("vm"))
      val kept = StreamOps.keyedRead(rows,
        StreamOps.readLatest(spark, stateDir, BurstStateCols), BurstStateCols)
      val w = Window.partitionBy("key").orderBy(col("us"), col("tie"))
      // crossing = previous row (in-batch, else the carried last_vm)
      // below threshold, this row at/above; a key's first-ever row has
      // a null prev and never crosses
      val crossings = kept
        .withColumn("__prev", coalesce(lag(col("vm"), 1).over(w),
          col("__st_last_vm")))
        .filter(col("__prev").isNotNull &&
          col("__prev") < thresholdMicro && col("vm") >= thresholdMicro)
      // islands among this batch's crossings, seeded by the open
      // burst's end: an attached first island keeps flag 0 and thus the
      // open burst's id; ids stay monotone per key
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = crossings
        .withColumn("__pl", lag(col("us"), 1).over(w))
        .withColumn("__pc", coalesce(col("__pl"), col("__st_ob_end_us")))
        .withColumn("__new",
          when(col("__pc").isNull ||
            col("us") - col("__pc") > gapMicros, 1L).otherwise(0L))
        .withColumn("burst_id", coalesce(col("__st_ob_id"), lit(-1L)) +
          sum(col("__new")).over(wRun))
      val islands = flagged
        .groupBy("key", "burst_id")
        .agg(count(lit(1)).as("n_crossings"), min(col("us")).as("burst_start_us"),
          max(col("us")).as("burst_end_us"), max(col("vm")).as("peak_micro"),
          first(col("__st_ob_id")).as("ob_id"),
          first(col("__st_ob_n")).as("ob_n"),
          first(col("__st_ob_start_us")).as("ob_start_us"),
          first(col("__st_ob_peak")).as("ob_peak"))
        .withColumn("__attached",
          col("ob_id").isNotNull && col("burst_id") === col("ob_id"))
        .select(col("key"), col("burst_id"),
          when(col("__attached"), col("n_crossings") + col("ob_n"))
            .otherwise(col("n_crossings")).as("n_crossings"),
          when(col("__attached"), col("ob_start_us"))
            .otherwise(col("burst_start_us")).as("burst_start_us"),
          col("burst_end_us"),
          when(col("__attached"), greatest(col("peak_micro"), col("ob_peak")))
            .otherwise(col("peak_micro")).as("peak_micro"))
      val burstCols = islands.columns.toSeq
      // each key's open burst: this batch's newest island
      val open = Populate.latestPerKey(islands, Seq("key"), burstCols.tail)
      val islandsClosed = islands
        .join(open.select(col("key"), col("burst_id").as("__ob")), "key")
        .filter(col("burst_id") < col("__ob"))
        .select(burstCols.map(col): _*)
      // a carried open burst that this batch's FIRST crossing does NOT
      // attach to is superseded — it must be emitted as closed here or
      // it would silently vanish when state moves to the new island
      val carriedClosed = flagged
        .filter(col("__pl").isNull && col("__new") === 1L &&
          col("__st_ob_id").isNotNull)
        .select(col("key"), col("__st_ob_id").as("burst_id"),
          col("__st_ob_n").as("n_crossings"),
          col("__st_ob_start_us").as("burst_start_us"),
          col("__st_ob_end_us").as("burst_end_us"),
          col("__st_ob_peak").as("peak_micro"))
      // new state: keys with kept rows — newest row's (us, vm) plus the
      // open burst (this batch's newest island if any, else carried)
      val ob = (c: String, st: String) => coalesce(col(c), col(st))
      val state = kept.join(open, Seq("key"), "left")
        .select(col("key"), col("us").as("last_us"), col("tie"),
          col("vm").as("last_vm"), ob("burst_id", "__st_ob_id").as("ob_id"),
          ob("n_crossings", "__st_ob_n").as("ob_n"),
          ob("burst_start_us", "__st_ob_start_us").as("ob_start_us"),
          ob("burst_end_us", "__st_ob_end_us").as("ob_end_us"),
          ob("peak_micro", "__st_ob_peak").as("ob_peak"))
      StreamOps.commitWave(Seq((islandsClosed.unionByName(carriedClosed),
          burstsDir, Seq("key", "burst_id"))),
        state, stateDir, Seq("key", "last_us"), BurstStateCols,
        newestBy = Seq("last_us", "tie") ++ BurstStateCols.tail)
    }
  }

  /** The drained burst table: closed bursts plus each key's still-open
    * burst from state — row-for-row the one-shot
    * [[graft.operators.Behavior.thresholdBursts]] result (micros form).
    */
  def loadBursts(spark: SparkSession, burstsDir: String,
                 stateDir: String): DataFrame = {
    val closed = Populate.readIfExists(spark, burstsDir)
      .getOrElse(spark.emptyDataFrame)
    val open = StreamOps.readLatest(spark, stateDir, BurstStateCols)
      .map(_.filter(col("ob_id").isNotNull)
        .select(col("key"), col("ob_id").as("burst_id"),
          col("ob_n").as("n_crossings"),
          col("ob_start_us").as("burst_start_us"),
          col("ob_end_us").as("burst_end_us"),
          col("ob_peak").as("peak_micro")))
    (closed.columns.isEmpty, open) match {
      case (true, Some(o))  => o
      case (true, None)     => closed
      case (false, Some(o)) => closed.unionByName(o)
      case (false, None)    => closed
    }
  }

  /** The burst state row, read as the argmax over `last_us` (replayed
    * appends are harmless). */
  private val BurstStateCols = Seq("last_us", "last_vm", "ob_id", "ob_n",
    "ob_start_us", "ob_end_us", "ob_peak")
}
