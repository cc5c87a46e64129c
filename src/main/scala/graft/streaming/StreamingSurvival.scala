package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Populate, Survival}

/** Streaming/incremental twin of the q256 Kaplan–Meier pipeline (the
  * drain discipline applied to survival analysis): event files land in
  * chronological waves; each micro-batch extends or closes per-key
  * gap-sessions against a persisted one-row-per-key OPEN-session state,
  * appends newly-CLOSED subjects idempotently (a closed session never
  * revises — its row key is `(key, start_us)`, so replays are keyed
  * no-ops), and the report classifies the still-open state rows against
  * the drained observation edge with the same `end + gap <= edge` rule
  * the one-shot query uses. Drained report ≡ one-shot
  * `Survival.kmLifeTable` row-for-row (StreamingSurvivalSpec; q264's
  * oracle is q256's SQL verbatim).
  *
  * Wave contract (the keyed wave of [[StreamOps.keyedRead]]): batches
  * are chronological per key; a row at or before the key's persisted last
  * event is LATE and dropped — which also makes re-delivered batches
  * no-ops — and closed subjects append before the state. Within a batch,
  * same-µs duplicates collapse to their max arm flag (a session's arm is
  * the max over its events, so this loses nothing).
  *
  * At 100 TB: state is one logical row per key (appended, read as
  * latest-per-key, compactable); per-wave work is one keyed window over
  * (state ∪ batch) — cost scales with the batch, not the corpus; the
  * subjects table carries one row per closed session.
  */
object StreamingSurvival {

  /** Drain newly-landed event files into the closed-subjects table.
    * `armCol` is a 0/1 long column (e.g. is-purchase) whose per-session
    * max is the stratum. Returns once the backlog is drained.
    */
  def drain(spark: SparkSession, sourceDir: String, subjectsDir: String,
            stateDir: String, checkpointDir: String, keyCol: String,
            tsCol: String, armCol: String,
            schema: org.apache.spark.sql.types.StructType,
            gapUs: Long): Unit = {
    require(gapUs > 0, "gapUs must be > 0")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val ev = batch.select(col(keyCol).as("key"),
          unix_micros(col(tsCol)).as("us"),
          col(armCol).cast("long").as("arm"))
        .groupBy("key", "us").agg(max(col("arm")).as("arm"))
      val fresh = StreamOps.keyedRead(ev,
        StreamOps.readLatest(spark, stateDir, StateCols), StateCols)
      // pseudo-row: the open session's tail, carrying its start — only
      // for keys touched this wave (others stay open as-is)
      val carried = fresh.filter(col("__st_last_us").isNotNull)
        .select(col("key"), col("__st_last_us").as("us"),
          col("__st_arm").as("arm"), col("__st_start_us").as("__start"))
        .distinct()
      val w = Window.partitionBy("key").orderBy("us")
      val wRun = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val islands = fresh.select("key", "us", "arm")
        .unionByName(carried, allowMissingColumns = true)
        .withColumn("__prev", lag(col("us"), 1).over(w))
        .withColumn("__new", when(col("__prev").isNull ||
          col("us") - col("__prev") > gapUs, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(wRun))
        .groupBy("key", "__sid")
        .agg(min(coalesce(col("__start"), col("us"))).as("start_us"),
          max(col("us")).as("last_us"), max(col("arm")).as("arm"))
      val lastSid = islands.groupBy("key").agg(max(col("__sid")).as("__sid"))
      val closed = islands.join(lastSid, Seq("key", "__sid"), "left_anti")
      // the state row is each key's last (open) session: the newest by
      // `last_us`, since sessions of one key never overlap
      StreamOps.commitWave(Seq((closed.select("key", "start_us", "last_us",
          "arm"), subjectsDir, Seq("key", "start_us"))),
        islands, stateDir, Seq("key", "last_us"), StateCols,
        newestBy = StateCols)
    }
  }

  /** The drained life table: closed subjects are observed events; the
    * open state rows classify against the drained edge (max last event
    * across keys) with the one-shot censor rule. `None` before any
    * drain.
    */
  def report(spark: SparkSession, subjectsDir: String, stateDir: String,
             gapUs: Long): Option[DataFrame] =
    StreamOps.readLatest(spark, stateDir, StateCols).map { st =>
      val closed = Populate.readIfExists(spark, subjectsDir)
        .getOrElse(st.limit(0))
      val subjects = closed.withColumn("__open", lit(false))
        .unionByName(st.withColumn("__open", lit(true)))
      val edge = broadcast(subjects.agg(max(col("last_us")).as("__edge")))
      val marked = subjects.crossJoin(edge)
        .withColumn("duration_s",
          expr("(last_us - start_us) div 1000000"))
        .withColumn("ended", !col("__open") ||
          Survival.observedEnd(col("last_us"), col("__edge"), gapUs))
        .withColumn("purchased", col("arm"))
      Survival.kmLifeTable(marked, Seq("purchased"), "duration_s", "ended")
    }

  /** State is the latest open-session row per key: argmax over
    * `(last_us, start_us)`. The state appends are keyed on
    * `(key, last_us)`, so no two rows of a key tie on `last_us`. */
  private val StateCols = Seq("last_us", "start_us", "arm")
}
