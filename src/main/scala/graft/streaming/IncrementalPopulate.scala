package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Populate

/** Streaming form of the populate engine (SURVEY.md §2.9 "incremental
  * discovery"): the reference's `populate()` polls `key_source − done` and
  * derives per new key; here a file-source stream discovers newly-landed
  * bronze files and [[StreamOps.drainFiles]] drains exactly the backlog, with
  * the idempotent anti-join append making restarts and overlapping runs safe
  * (the Spark analogue of `skip_duplicates=True` + transactions,
  * `acquisition.py:544-549`).
  *
  * State lives in two places, both durable: the checkpoint (which source
  * files are consumed) and the target table itself (which keys exist). Either
  * alone suffices for correctness — together re-processing is rare AND
  * harmless.
  */
object IncrementalPopulate {

  /** Run one incremental drain: read new parquet files under `sourceDir` as
    * a stream, apply `make` per micro-batch, idempotently append to
    * `targetDir` keyed by `pk`. Returns once the backlog is drained
    * (AvailableNow). `schema` must be the bronze schema (file streams require
    * one up front).
    */
  def drain(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, pk: Seq[String],
            schema: org.apache.spark.sql.types.StructType)
           (make: DataFrame => DataFrame): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val derived = make(batch)
      Populate.appendIdempotent(derived, targetDir, pk)
    }
  }
}
