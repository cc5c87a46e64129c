package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Populate, QualityFilter}

/** Restartable TRAINING drain for the quality classifier — the
  * [[StreamingDsir.trainDrain]] discipline applied to the labeled
  * centroid counts: each source FILE's per-bucket class counts land in a
  * persisted counts table as `(src_file, bucket, g, bad)` rows,
  * idempotently keyed on `(src_file, bucket)`. The file path is the
  * append unit's STABLE identity — a lost checkpoint replays the same
  * files (possibly re-batched differently), and every replayed row keys
  * onto an existing `(src_file, bucket)` pair, so the model can never
  * double-count. The current model is
  * `QualityFilter.weightsFromCounts(loadCounts(...))` — one
  * `nBuckets`-cell aggregate over the table, however many labeled seed
  * files accumulated it.
  */
object StreamingQualityFilter {

  def trainDrain(spark: SparkSession, sourceDir: String, countsDir: String,
                 checkpointDir: String, textCol: String, labelCol: String,
                 schema: org.apache.spark.sql.types.StructType,
                 nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      val rows = QualityFilter.labeledCountsBy(batch, "__src", textCol,
          labelCol, nBuckets)
        .withColumnRenamed("__src", "src_file")
      Populate.appendIdempotent(rows, countsDir, Seq("src_file", "bucket"))
    }
  }

  /** The accumulated `(goodCounts, badCounts)` of a [[trainDrain]] table
    * (all zeros if the table does not exist yet). Feed to
    * [[QualityFilter.weightsFromCounts]].
    */
  def loadCounts(spark: SparkSession, countsDir: String,
                 nBuckets: Int): (Array[Long], Array[Long]) = {
    val g = Array.fill(nBuckets)(0L)
    val bad = Array.fill(nBuckets)(0L)
    Populate.readIfExists(spark, countsDir).foreach { df =>
      df.groupBy("bucket")
        .agg(sum(col("g")).as("g"), sum(col("bad")).as("bad"))
        .collect()
        .foreach { r =>
          val b = r.getInt(0)
          // the counts table does not record its own nBuckets; a mismatch
          // would either crash (larger) or silently misnormalize (smaller)
          require(b >= 0 && b < nBuckets,
            s"counts table at $countsDir has bucket=$b outside " +
              s"[0, $nBuckets) — it was trained with a different nBuckets; " +
              "pass the nBuckets the drain was started with")
          g(b) += r.getLong(1)
          bad(b) += r.getLong(2)
        }
    }
    (g, bad)
  }
}
