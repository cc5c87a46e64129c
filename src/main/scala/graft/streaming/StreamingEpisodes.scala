package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming/incremental twin of
  * [[graft.operators.Behavior.matchEpisodes]] (the drain discipline):
  * event files land in chronological waves; each micro-batch extends the
  * per-key last-occurrence carry chains through a persisted state row, the
  * corpus is never re-read, and the drained episode table after the final
  * wave equals the one-shot operator row-for-row (StreamingEpisodesSpec +
  * the q223 oracle, which replays the BATCH query's SQL verbatim).
  *
  * Why the state is tiny: the batch operator's entire memory is its gated
  * `last(…) ignoreNulls` carries — for stage i, the most recent stage-i row
  * that itself completed a prefix chain, represented as i+1 stage-µs
  * values plus the blocker count at that row — and the running blocker
  * count. All of those compose across waves by seeding each in-batch
  * window carry with the persisted value (`coalesce(last(...) over
  * batch-prefix, state)`), so state per key is exactly O(stages²) longs:
  * `(last_us, cb, c{i}_us{j} for j ≤ i < k−1, c{i}_cb)`. Nothing about
  * the window-µs check needs buffering: it tests the FINAL row against
  * the carried stage-0 µs, both of which are in hand at emission.
  *
  * Late rule (the keyed-wave contract of [[StreamOps.keyedRead]]): rows
  * at or before the key's persisted `last_us` drop, so a replayed batch
  * is a keyed no-op; emitted episodes append idempotently on
  * `(key, final-stage µs, tie)`, before the state.
  *
  * At 100 TB: each wave costs ONE keyed window pass over the BATCH (all
  * carries chain on the same sort, exactly like the batch operator);
  * state is |keys| rows per wave (compactable). Episode extraction over
  * an unbounded event store without ever re-scanning it.
  */
object StreamingEpisodes {

  def episodeDrain(spark: SparkSession, sourceDir: String,
                   episodesDir: String, stateDir: String,
                   checkpointDir: String,
                   keyCol: String, tsCol: String, tieCol: String,
                   typeCol: String,
                   schema: org.apache.spark.sql.types.StructType,
                   stages: Seq[String], blocker: String,
                   windowSec: Long): Unit = {
    require(stages.size >= 2, "an episode needs at least two stages")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    require(!stages.contains(blocker), "the blocker cannot also be a stage")
    require(windowSec > 0, "windowSec must be positive")
    val k = stages.size
    // state columns beyond (key, last_us): running blocker count + carries
    val carryNames = (0 until k - 1).flatMap(i =>
      (0 to i).map(j => s"c${i}_us$j") :+ s"c${i}_cb")
    val stateCols = Seq("last_us", "cb") ++ carryNames

    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val rows = batch.select(col(keyCol).as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(tieCol).as("tie"), col(typeCol).as("ty"))
      val ord = Window.partitionBy("key").orderBy(col("us"), col("tie"))
      val wPrec = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wInc = ord.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      // each carry exists twice: the batch-prefix (exclusive) form the
      // emission reads — the batch operator's wPrec — and the inclusive
      // form (I_*) whose value AT THE LAST ROW is the end-of-wave state
      def seeded(frame: org.apache.spark.sql.expressions.WindowSpec,
                 gate: Column, what: Column, stateCol: String): Column =
        coalesce(last(when(gate, what), ignoreNulls = true).over(frame),
          col(s"__st_$stateCol"))
      def carries(fresh: DataFrame): DataFrame = {
        val g0 = col("ty") === stages(0)
        var df = fresh
          .withColumn("cb", coalesce(col("__st_cb"), lit(0L)) +
            sum(when(col("ty") === blocker, 1L).otherwise(0L)).over(wInc))
          .withColumn("c0_us0", seeded(wPrec, g0, col("us"), "c0_us0"))
          .withColumn("I_c0_us0", seeded(wInc, g0, col("us"), "c0_us0"))
          .withColumn("c0_cb", seeded(wPrec, g0, col("cb"), "c0_cb"))
          .withColumn("I_c0_cb", seeded(wInc, g0, col("cb"), "c0_cb"))
        for (i <- 1 until k - 1) {
          // the gate reads the EXCLUSIVE carries — "a stage-i row whose
          // prefix chain was complete as seen at its own row", exactly the
          // batch operator's rule (its own occurrence must not count)
          val gi = col("ty") === stages(i) && col(s"c${i - 1}_us0").isNotNull
          for (j <- 0 until i) {
            df = df
              .withColumn(s"c${i}_us$j",
                seeded(wPrec, gi, col(s"c${i - 1}_us$j"), s"c${i}_us$j"))
              .withColumn(s"I_c${i}_us$j",
                seeded(wInc, gi, col(s"c${i - 1}_us$j"), s"c${i}_us$j"))
          }
          df = df
            .withColumn(s"c${i}_us$i", seeded(wPrec, gi, col("us"), s"c${i}_us$i"))
            .withColumn(s"I_c${i}_us$i", seeded(wInc, gi, col("us"), s"c${i}_us$i"))
            .withColumn(s"c${i}_cb",
              seeded(wPrec, gi, col(s"c${i - 1}_cb"), s"c${i}_cb"))
            .withColumn(s"I_c${i}_cb",
              seeded(wInc, gi, col(s"c${i - 1}_cb"), s"c${i}_cb"))
        }
        df
      }
      val cached = StreamOps.keyedRead(rows,
        StreamOps.readLatest(spark, stateDir, stateCols), stateCols,
        derive = carries)
      val pfx = s"c${k - 2}"
      val stageUs = (0 until k - 1).map(j => col(s"${pfx}_us$j")) :+ col("us")
      val episodes = cached
        .filter(col("ty") === stages.last &&
          col(s"${pfx}_us0").isNotNull &&
          col("us") - col(s"${pfx}_us0") <= lit(windowSec * 1000000L))
        .select(Seq(col("key")) ++
          stages.zip(stageUs).map { case (st, c) => c.as(s"${st}_us") } ++
          Seq((col("cb") - col(s"${pfx}_cb")).as("n_blockers"),
            col("tie")): _*)
      // end-of-wave state = the inclusive carries at each key's LAST row
      StreamOps.commitWave(
        Seq((episodes, episodesDir, Seq("key", s"${stages.last}_us", "tie"))),
        cached.select(Seq(col("key"), col("us").as("last_us"), col("tie"),
          col("cb")) ++ carryNames.map(n => col(s"I_$n").as(n)): _*),
        stateDir, Seq("key", "last_us"), stateCols,
        newestBy = Seq("last_us", "tie") ++ stateCols.tail)
    }
  }

  /** The drained episode table, `(key, <stage>_us…, n_blockers, tie)`. */
  def loadEpisodes(spark: SparkSession, episodesDir: String): DataFrame =
    spark.read.parquet(episodesDir)
}
