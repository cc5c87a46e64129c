package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checks, Populate}

/** Continuous data-quality monitoring — the [[StreamingVocab.trainDrain]]
  * discipline applied to [[Checks]]: each landed FILE's row-level check
  * counts persist as `(src_file, check, column, n_rows, n_violations)`
  * rows, idempotently keyed on `(src_file, check, column)` (the file path
  * is the append unit's stable identity, so checkpoint loss or file
  * re-batching can never double-count). Row-level violation counts are
  * plain sums, so the accumulated table rolls up to EXACTLY the one-shot
  * [[Checks.report]] regardless of how the corpus arrived (spec-pinned,
  * and q191's oracle is the one-shot SQL verbatim).
  *
  * Scope is row-level checks only, honestly: uniqueness and referential
  * integrity are not per-file-decomposable counts (a duplicate spanning
  * two files is invisible to either file alone) — run those batch over
  * the landed table, where they cost their one aggregate/anti-join.
  */
object StreamingChecks {

  /** Drain newly-landed files' check counts into `stateDir`. */
  def reportDrain(spark: SparkSession, sourceDir: String, stateDir: String,
                  checkpointDir: String, checks: Seq[Checks.RowCheck],
                  schema: org.apache.spark.sql.types.StructType): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      val rows = Checks.reportBy(batch, "__src", checks)
        .withColumnRenamed("__src", "src_file")
      Populate.appendIdempotent(rows, stateDir,
        Seq("src_file", "check", "column"))
    }
  }

  /** Roll the accumulated state up to the one-shot report shape
    * `(check, column, n_rows, n_violations, pass)`; empty before any
    * drain.
    */
  def loadReport(spark: SparkSession, stateDir: String): DataFrame =
    Populate.readIfExists(spark, stateDir)
      .map(_.groupBy("check", "column")
        .agg(sum("n_rows").cast("long").as("n_rows"),
          sum("n_violations").cast("long").as("n_violations"))
        .withColumn("pass", col("n_violations") === 0L))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("check"), lit("").as("column"),
          lit(0L).as("n_rows"), lit(0L).as("n_violations"),
          lit(true).as("pass")).limit(0))
}
