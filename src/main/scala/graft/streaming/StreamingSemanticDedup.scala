package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.{Populate, Similarity}

/** Streaming form of SEMANTIC near-dup detection — [[StreamingDedup]] with
  * the lexical MinHash index swapped for the pinned-center cell index:
  * newly-landed embedding files stream in, each micro-batch is
  * cell-assigned ONCE ([[Similarity.assignCells]]), cosine-checked against
  * the persisted assignment index in only the cells the batch touches
  * ([[Similarity.incrementalSemanticCandidates]] — the corpus is never
  * re-scored against itself), and appended to the index idempotently keyed
  * (id, cell) so restarts and overlapping drains are safe.
  *
  * The quantizer centers are the index's IDENTITY: they are passed in
  * pinned (trained or sampled once when the index was created) because a
  * batch assigned under different centers would probe the wrong cells.
  * Re-training the quantizer means rebuilding the index — the same
  * contract as rewriting an IVF layout ([[Similarity.writeIvfIndex]]).
  *
  * Durability story identical to [[StreamingDedup]]: checkpoint (which
  * files were consumed) + the index/candidate tables (which docs/pairs
  * exist) — either alone suffices, together reprocessing is rare AND
  * harmless.
  */
object StreamingSemanticDedup {

  /** Drain newly-landed embedding files: emit cosine-verified candidate
    * pairs to `candidatesDir` and fold the batch's cell assignments into
    * the index at `indexDir`. Returns once the backlog is drained
    * (AvailableNow).
    */
  def drain(spark: SparkSession, sourceDir: String, indexDir: String,
            candidatesDir: String, checkpointDir: String,
            idCol: String, vecCol: String,
            schema: org.apache.spark.sql.types.StructType,
            centers: Array[Array[Float]],
            threshold: Double,
            maxCellSize: Int = 1 << 20): Unit = {
    require(centers.nonEmpty, "pinned quantizer centers are required")
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val assigned = Similarity.assignCells(
        batch.select(idCol, vecCol), idCol, vecCol, centers)
      // assign the batch once; both consumers (candidates + index
      // append) reuse the materialization
      val cached = assigned.cache()
      try {
        val index = Populate.readIfExists(spark, indexDir)
          .getOrElse(cached.limit(0)) // first batch: new-vs-new only
        val cands = Similarity.incrementalSemanticCandidates(cached, index,
          idCol, vecCol, threshold, maxCellSize = maxCellSize)
        Populate.appendIdempotent(cands, candidatesDir, Seq("id_a", "id_b"))
        Populate.appendIdempotent(cached, indexDir, Seq(idCol, "cell"))
      } finally cached.unpersist()
    }
  }
}
