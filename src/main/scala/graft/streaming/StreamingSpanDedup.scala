package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Populate}

/** Streaming form of exact-substring span dedup (the arXiv:2107.06499
  * family's incremental twin, completing the trio with [[StreamingDedup]]
  * and [[StreamingSemanticDedup]]): newly-landed document files stream in,
  * each micro-batch is shingled ONCE, its spans are derived against the
  * persisted window-hash index ([[Dedup.incrementalRepeatedSpans]] — the
  * corpus is never re-shingled), and the batch's own (window_hash, doc)
  * pairs fold into the index idempotently so restarts and overlapping
  * drains are safe.
  *
  * Flag-forward semantics: a batch's docs are cleaned against everything
  * seen up to and including that batch; history is not retro-flagged
  * (the same batches-never-rehash-the-corpus trade as the LSH drain).
  *
  * Same durability story as [[IncrementalPopulate]]: checkpoint (which
  * files were consumed) + the index/span tables themselves (which pairs
  * and spans exist) — either alone suffices; together reprocessing is rare
  * AND harmless (the index probe counts a replayed doc once, and both
  * appends are keyed).
  *
  * At 100 TB the index table is written bucketed on `window_hash`; each
  * drain probes only the hashes its batch contains, so cost scales with
  * the batch, not the corpus.
  */
object StreamingSpanDedup {

  /** Drain newly-landed document files: append each batch's repeated spans
    * to `spansDir` (keyed `(idCol, span_start)`) and the batch's
    * (window_hash, doc) pairs to `indexDir` (keyed `(window_hash, idCol)`).
    * Returns once the backlog is drained (AvailableNow).
    */
  def drain(spark: SparkSession, sourceDir: String, indexDir: String,
            spansDir: String, checkpointDir: String,
            idCol: String, textCol: String,
            schema: org.apache.spark.sql.types.StructType,
            n: Int = 8, minDf: Int = 2): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val docs = batch.select(idCol, textCol)
      val contribution = Dedup.spanHashIndex(docs, idCol, textCol, n)
      val index = Populate.readIfExists(spark, indexDir)
        .getOrElse(contribution.limit(0)) // first batch: batch-only df
      val spans = Dedup.incrementalRepeatedSpans(docs, idCol, textCol,
        index, n, minDf)
      Populate.appendIdempotent(spans, spansDir, Seq(idCol, "span_start"))
      Populate.appendIdempotent(contribution, indexDir,
        Seq("window_hash", idCol))
    }
  }
}
