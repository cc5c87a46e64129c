package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dsir, Populate}

/** Streaming form of DSIR / perplexity scoring — newly-landed document
  * files stream in, each micro-batch is scored under PINNED model weights
  * and appended to a persisted scores table idempotently keyed on the doc
  * id. Unlike the dedup drains there is no cross-batch index to probe:
  * scoring is a pure per-document function, so the streamed result is
  * batch-split-invariant by construction (StreamingDsirSpec pins drained ≡
  * one-shot anyway, the twin discipline's point being to catch exactly
  * the "should be trivially equal" paths that aren't).
  *
  * The weight array is the score table's IDENTITY, same contract as the
  * semantic index's pinned centers: scores produced under different
  * weights are not comparable — retraining the model means rebuilding the
  * table. Keep the MERGEABLE count arrays ([[Dsir.trainNgramCounts]]) if
  * the model itself must also track the growing corpus; scores can then be
  * recomputed for a new model epoch by re-draining from scratch.
  *
  * Durability: checkpoint (which files were consumed) + idempotent keyed
  * append (which docs are scored) — either alone suffices; together,
  * reprocessing after checkpoint loss is rare AND harmless.
  */
object StreamingDsir {

  /** Drain newly-landed document files: append `(idCol, dsir_score,
    * n_feats, ce_micro)` for every unseen doc. `weights` are the
    * importance weights ([[Dsir.importanceWeights]]) and `targetModel` the
    * target-LM probabilities ([[Dsir.modelFromCounts]]); both must share
    * nBuckets. Returns once the backlog is drained (AvailableNow).
    */
  def drain(spark: SparkSession, sourceDir: String, scoresDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            schema: org.apache.spark.sql.types.StructType,
            weights: Array[Long], targetModel: Array[Long]): Unit = {
    require(weights.length == targetModel.length,
      "weights and targetModel must share nBuckets")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val docs = batch.select(col(idCol), col(textCol))
      val scored = Dsir.scoreAndCrossEntropy(docs, idCol, textCol,
          weights, targetModel)
        .select(col(idCol), col("dsir_score"), col("n_feats"),
          col("ce_micro"))
      Populate.appendIdempotent(scored, scoresDir, Seq(idCol))
    }
  }

  /** Restartable TRAINING drain: each source FILE's per-bucket feature
    * counts land in a persisted counts table as `(src_file, bucket, c)`
    * rows, idempotently keyed on `(src_file, bucket)`. The file path is
    * the append unit's STABLE identity — a lost checkpoint replays the
    * same files (possibly re-batched differently), and every replayed
    * row keys onto an existing `(src_file, bucket)` pair, so the model
    * can never double-count. (A batch-content key would NOT survive
    * re-batching: one replayed batch spanning two original waves carries
    * a new key and lands twice.) The current model is
    * `modelFromCounts(loadCounts(...))` — one `nBuckets`-cell aggregate
    * over the table, however many files accumulated it.
    */
  def trainDrain(spark: SparkSession, sourceDir: String, countsDir: String,
                 checkpointDir: String, textCol: String,
                 schema: org.apache.spark.sql.types.StructType,
                 nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      val rows = Dsir.ngramCountsBy(batch, "__src", textCol, nBuckets)
        .withColumnRenamed("__src", "src_file")
      Populate.appendIdempotent(rows, countsDir, Seq("src_file", "bucket"))
    }
  }

  /** The accumulated count array of a [[trainDrain]] table (all zeros if
    * the table does not exist yet). Feed to [[Dsir.modelFromCounts]].
    */
  def loadCounts(spark: SparkSession, countsDir: String,
                 nBuckets: Int): Array[Long] = {
    val out = Array.fill(nBuckets)(0L)
    Populate.readIfExists(spark, countsDir).foreach { df =>
      df.groupBy("bucket").agg(sum(col("c")).as("c"))
        .collect()
        .foreach { r =>
          val b = r.getInt(0)
          // The counts table does not record its own nBuckets; a mismatch
          // would either crash (larger) or silently misnormalize (smaller).
          require(b >= 0 && b < nBuckets,
            s"counts table at $countsDir has bucket=$b outside " +
              s"[0, $nBuckets) — it was trained with a different nBuckets; " +
              "pass the nBuckets the drain was started with")
          out(b) += r.getLong(1)
        }
    }
    out
  }
}
