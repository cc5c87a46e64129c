package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checks, Populate}

/** Streaming/incremental twin of [[Checks.ksDrift]] (the drain discipline
  * applied to distribution-drift monitoring): sample files land in waves,
  * each micro-batch reduces its rows to per-(source-file, key, value) side
  * counts and appends them idempotently — the persisted CELL table is the
  * operator's whole state, mergeable by summing (the quality-filter count-
  * shard pattern: partials keyed by `_metadata.file_path`, so a replayed
  * or re-delivered batch is a keyed no-op, never a double count). The
  * report is [[Checks.ksFromCells]] over the merged cells and equals the
  * one-shot statistic exactly (StreamingKsDriftSpec; q261's oracle is
  * q260's SQL verbatim).
  *
  * At 100 TB: per-wave work is one aggregation of the batch (map-side
  * partials; the append carries distinct cells, not rows); the report
  * pass scales with the cell table (distinct (key, value) pairs on the
  * integer grid), not the sample volume. Compact the cell store's small
  * files with [[graft.sources.Layout.compact]] when file counts grow:
  * every row is a distinct `(src_file, keys…, value)` cell, so there is
  * no superseded row for `Populate.compactLatest` to drop.
  */
object StreamingKsDrift {

  /** Drain newly-landed sample files from `sourceDir` into the cell table
    * at `cellsDir`. `sideCol` boolean: true = baseline sample. Returns
    * once the backlog is drained (AvailableNow).
    */
  def drain(spark: SparkSession, sourceDir: String, cellsDir: String,
            checkpointDir: String, keyCols: Seq[String], valueCol: String,
            sideCol: String,
            schema: org.apache.spark.sql.types.StructType): Unit = {
    require(keyCols.nonEmpty, "ksDrift drain needs grouping keys")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      // nulls excluded, matching Checks.ksDrift's contract (engines
      // disagree on null sort order; null-rate drift is binnedDrift's)
      val cells = batch
        .filter(col(valueCol).isNotNull)
        .groupBy((col("__src").as("src_file") +: keyCols.map(col) :+
          col(valueCol).cast("long").as("__v")): _*)
        .agg(sum(when(col(sideCol), 1L).otherwise(0L)).as("__k1"),
          sum(when(col(sideCol), 0L).otherwise(1L)).as("__k2"))
      Populate.appendIdempotent(cells, cellsDir,
        ("src_file" +: keyCols) :+ "__v")
    }
  }

  /** The drained KS report: merge the cell shards and run the one-shot
    * statistic tail. Empty/missing cell table → empty report.
    */
  def report(spark: SparkSession, cellsDir: String,
             keyCols: Seq[String]): Option[DataFrame] =
    Populate.readIfExists(spark, cellsDir).map { cells =>
      Checks.ksFromCells(cellCols(cells, keyCols), keyCols)
    }

  /** The drained PSI/binned report — the SAME cell store, a second
    * derived report (`Checks.binnedDriftFromCells`): baseline quantile
    * cuts and both-side bin counts straight off the merged cells. The
    * store carries no nulls, so there is no −1 bin here; on null-free
    * input this equals the one-shot `Checks.binnedDrift` row-for-row.
    */
  def reportBinned(spark: SparkSession, cellsDir: String,
                   keyCols: Seq[String], nBins: Int): Option[DataFrame] =
    Populate.readIfExists(spark, cellsDir).map { cells =>
      Checks.binnedDriftFromCells(cellCols(cells, keyCols), keyCols, nBins)
    }

  private def cellCols(cells: org.apache.spark.sql.DataFrame,
                       keyCols: Seq[String]) =
    cells.select((keyCols.map(col) :+ col("__v") :+ col("__k1") :+
      col("__k2")): _*)
}
