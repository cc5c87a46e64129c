package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Populate}

/** Streaming/incremental twin of [[Dedup.hammingNearDup]] — incremental
  * NEAR-DUP over ≤64-bit perceptual fingerprints (image dHash, audio
  * energy hash, simhash): newly-landed `(id, hash)` files stream in, each
  * micro-batch is banded ONCE, checked against the persisted band index
  * ([[Dedup.incrementalCandidates]] — the corpus is never re-banded), and
  * folded into the index idempotently. Candidates verify by exact
  * `bit_count(xor)` against the persisted hash table and append on
  * `(id_a, id_b)`, so restarts and replays are no-ops — the drained pair
  * table after the final wave equals the one-shot [[Dedup.hammingNearDup]]
  * (StreamingHammingSpec + the q242 oracle, which replays the one-shot
  * SQL verbatim).
  *
  * This is [[StreamingDedup]]'s machinery with the text/minhash front end
  * swapped for a fingerprint column — the banding IS the bucket index, so
  * image/audio/video dedup inherits the same incremental story text dedup
  * already has: each wave costs O(batch × nBands) banded rows joined
  * against only the buckets the batch touches, never the corpus.
  *
  * The `maxBucket` flood guard applies per batch-vs-corpus view (the
  * [[Dedup.incrementalCandidates]] contract); on unflooded buckets the
  * drained result is exactly the one-shot's.
  */
object StreamingHamming {

  def drain(spark: SparkSession, sourceDir: String, indexDir: String,
            hashesDir: String, pairsDir: String, checkpointDir: String,
            idCol: String, hashCol: String,
            schema: org.apache.spark.sql.types.StructType,
            bits: Int, maxHamming: Int, nBands: Int = 4,
            maxBucket: Int = 10000): Unit = {
    require(bits >= 1 && bits <= 64, "bits must be in 1..64")
    require(bits % nBands == 0, s"nBands must divide $bits")
    val blockBits = bits / nBands
    require(blockBits < 64, "a single 64-bit band never buckets")
    val mask = (1L << blockBits) - 1
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val hashes = batch.select(col(idCol).as("id"),
        col(hashCol).cast("long").as("h"))
      val buckets = hashes.select(col("id"),
          posexplode(array((0 until nBands).map(i =>
            shiftrightunsigned(col("h"), i * blockBits).bitwiseAND(mask)): _*))
            .as(Seq("band", "bucket")))
        .localCheckpoint(true)
      val index = Populate.readIfExists(spark, indexDir)
      val cands = index match {
        case None => Dedup.incrementalCandidates(buckets,
          buckets.limit(0), "id", maxBucket)
        case Some(ix) => Dedup.incrementalCandidates(buckets,
          ix.select("id", "band", "bucket"), "id", maxBucket)
      }
      // verify against the persisted hash table ∪ this batch
      val allHashes = (Populate.readIfExists(spark, hashesDir) match {
        case None => hashes
        case Some(old) => old.select("id", "h").unionByName(hashes)
      }).groupBy("id").agg(first(col("h")).as("h"))
      val verified = cands
        .join(allHashes.select(col("id").as("id_a"), col("h").as("__ha")),
          Seq("id_a"))
        .join(allHashes.select(col("id").as("id_b"), col("h").as("__hb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
      Populate.appendIdempotent(verified, pairsDir, Seq("id_a", "id_b"))
      Populate.appendIdempotent(buckets, indexDir,
        Seq("id", "band", "bucket"))
      Populate.appendIdempotent(hashes, hashesDir, Seq("id"))
    }
  }

  /** The drained near-dup pair table, `(id_a, id_b, hamming)`. */
  def loadPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
}
