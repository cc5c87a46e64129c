package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Populate

/** Streaming RE-CURATION — the drain form of
  * [[graft.operators.Populate.invalidate]], completing the populate
  * engine's lifecycle the way the reference actually runs it: curation
  * decisions arrive over time (`spike_sorting_curation.py:523-555` —
  * an official curation is revoked/replaced, the affected derived rows
  * cascade-delete, the populate re-derives them), so invalidation
  * requests land as keyed file waves and each micro-batch
  *
  *  1. distinct's the wave's keys and cascade-deletes them across the
  *     declared chain ([[Populate.invalidate]] — downstream-first,
  *     crash-safe per table);
  *  2. hands the FULL wave rows (keys + whatever rule metadata the
  *     request carries) to the caller's `repopulate`, which re-derives
  *     exactly the missing keys through the ordinary
  *     [[Populate.derive]] + append path.
  *
  * Idempotence: a replayed wave (checkpoint loss) invalidates rows that
  * are already re-derived and re-derives them identically — the
  * invalidate-then-derive pair converges as long as `repopulate` is
  * deterministic, which the populate discipline already requires.
  * Waves apply in landing order (AvailableNow drains the backlog in
  * sequence), so "latest curation wins" holds exactly like the
  * reference's re-apply.
  *
  * At 100 TB: each wave costs the broadcast anti-join + surviving-row
  * rewrite of [[Populate.invalidate]] (keys are curation-sized) plus the
  * re-derivation of the wave's keys — O(wave), never a corpus re-derive.
  */
object StreamingRecuration {

  def drain(spark: SparkSession, requestsDir: String, checkpointDir: String,
            schema: org.apache.spark.sql.types.StructType,
            keyCols: Seq[String], chain: Seq[(String, Seq[String])])
           (repopulate: DataFrame => Unit): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    StreamOps.drainFiles(spark, requestsDir, schema, checkpointDir) { batch =>
      val wave = batch.localCheckpoint(true)
      if (wave.limit(1).count() > 0) {
        val keys = wave
          .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
          .distinct()
        Populate.invalidate(spark, chain, keys)
        repopulate(wave)
      }
    }
  }
}
