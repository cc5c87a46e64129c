package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Populate}

/** Streaming form of incremental near-dup detection: newly-landed document
  * files stream in, each micro-batch is bucketed ONCE
  * ([[Dedup.lshBuckets]]), checked against the persisted corpus bucket
  * index ([[Dedup.incrementalCandidates]] — the corpus is never re-hashed),
  * and appended to the index idempotently so restarts and overlapping
  * drains are safe. Candidate pairs append to their own table keyed
  * (id_a, id_b) — re-deriving a batch after a checkpoint loss re-finds the
  * same pairs and the idempotent append drops them.
  *
  * Same durability story as [[IncrementalPopulate]]: checkpoint (which
  * files were consumed) + the index/candidate tables themselves (which
  * docs/pairs exist) — either alone suffices, together reprocessing is
  * rare AND harmless.
  *
  * At 100 TB the index table is written bucketed/partitioned on the join
  * key (band, bucket); the per-batch side is |batch| × bands rows, so each
  * drain's cost scales with the batch, not the corpus.
  */
object StreamingDedup {

  /** Drain newly-landed document files: emit candidate pairs to
    * `candidatesDir` and fold the batch into the bucket index at
    * `indexDir`. Returns once the backlog is drained (AvailableNow).
    *
    * `clustersDir = Some(dir)` additionally maintains a persisted
    * `(id, cluster)` assignment table: each micro-batch's pairs merge into
    * the prior assignments via [[Dedup.mergeComponents]] — the propagation
    * runs over `batch-pairs + assignments` edges, never the full historical
    * pair set, so cluster maintenance cost scales with the batch exactly
    * like the candidate path. The table is REPLACED per batch (assignments
    * are a compact id-per-doc table, replacement is the correct idempotent
    * semantics for it — re-running a batch converges to the same fixpoint)
    * via [[Populate.replaceAtomic]]'s staged-write-then-swap, so a crash
    * mid-batch always leaves either the previous or the new snapshot
    * complete on disk (it can also be rebuilt from `candidatesDir` by a
    * one-shot [[Dedup.connectedComponents]], but never has to be).
    *
    * `verify = Some((shinglesDir, minJaccard))` upgrades the emitted pairs
    * from raw band collisions to VERIFIED near-dups — the drained twin of
    * the one-shot LSH→verify chain (q65/q99/q247): the drain additionally
    * persists each doc's distinct shingle-hash array (append-idempotent on
    * the id — the signature store every production dedup service keeps),
    * joins the wave's candidate pairs against it on BOTH sides, and keeps
    * pairs with `round(jaccard, 4) >= minJaccard`. `candidatesDir` then
    * holds `(id_a, id_b, jaccard)` and the cluster table merges VERIFIED
    * edges only, so the drained resolution equals the one-shot verified
    * CC exactly. Per-wave cost: two keyed equi-joins on candidate ids —
    * O(wave candidates), never corpus×corpus; the shingle store is
    * corpus-sized on disk but only candidate ids are ever shuffled.
    */
  def drain(spark: SparkSession, sourceDir: String, indexDir: String,
            candidatesDir: String, checkpointDir: String,
            idCol: String, textCol: String,
            schema: org.apache.spark.sql.types.StructType,
            numHashes: Int = 32, shingleN: Int = 3,
            bands: Int = 8, rowsPerBand: Int = 4,
            clustersDir: Option[String] = None,
            verify: Option[(String, Double)] = None): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val buckets = Dedup.lshBuckets(batch, idCol, textCol,
        numHashes, shingleN, bands, rowsPerBand)
      // bucket the batch once per derivation; both consumers (candidates
      // + index append) reuse the materialization
      val cached = buckets.cache()
      var cands: DataFrame = null
      try {
        val index = Populate.readIfExists(spark, indexDir)
          .getOrElse(cached.limit(0)) // first batch: new-vs-new only
        val raw = Dedup.incrementalCandidates(cached, index, idCol)
        val cands0 = verify match {
          case None => raw
          case Some((shinglesDir, minJaccard)) =>
            import org.apache.spark.sql.functions._
            val sh = Dedup.withHashedShingles(batch, idCol, textCol,
              shingleN)
            Populate.appendIdempotent(sh, shinglesDir, Seq(idCol))
            val store = Populate.readIfExists(spark, shinglesDir).get
            raw
              .join(store.select(col(idCol).as("id_a"),
                col("shingle_hashes").as("__sa")), Seq("id_a"))
              .join(store.select(col(idCol).as("id_b"),
                col("shingle_hashes").as("__sb")), Seq("id_b"))
              .withColumn("jaccard",
                round(Dedup.jaccard(col("__sa"), col("__sb")), 4))
              .filter(col("jaccard") >= minJaccard)
              .select("id_a", "id_b", "jaccard")
        }
        // two consumers per wave (the candidate append + the CC edge
        // list): uncut, the verify joins against the shingle store ran
        // twice — cache so the wave pays them once
        cands = cands0.cache()
        Populate.appendIdempotent(cands, candidatesDir, Seq("id_a", "id_b"))
        Populate.appendIdempotent(cached, indexDir, Seq(idCol, "band"))
        clustersDir.foreach { dir =>
          val newPairs = cands.select("id_a", "id_b")
          val existing = Populate.readIfExists(spark, dir)
          val merged = existing match {
            case Some(e) => Dedup.mergeComponents(e, newPairs, "id_a", "id_b")
            case None => Dedup.connectedComponents(newPairs, "id_a", "id_b")
          }
          // staged write + swap: the old assignments stay intact (and the
          // merge plan keeps reading them) until the new snapshot is fully
          // on disk — a crashed batch never destroys the table
          Populate.replaceAtomic(merged, dir)
        }
      } finally {
        cached.unpersist()
        if (cands != null) cands.unpersist()
      }
    }
  }
}
