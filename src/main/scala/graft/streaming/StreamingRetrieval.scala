package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Populate

/** Incremental BM25 index maintenance — the [[StreamingVocab.trainDrain]]
  * discipline applied to [[graft.operators.Retrieval.writeBm25Index]]'s
  * input state: newly-landed document files drain into a STAGING store of
  * per-doc posting rows plus per-doc length rows, idempotently keyed on
  * the source file (a lost checkpoint replaying re-batched files can never
  * double-count); [[publish]] then rebuilds the bucket-partitioned probe
  * layout from the aggregate WITHOUT re-tokenizing the backlog.
  *
  * CONTRACT — each document arrives in exactly ONE source file. Posting
  * and length rows are per-(src_file, doc) quantities, so idempotency
  * holds for replays of the SAME file (checkpoint loss, re-batching);
  * it does NOT extend to a document re-landing in a DIFFERENT file (a
  * doc update, or an at-least-once upstream that rewrites batches).
  * There is no well-defined "latest version" to prefer — landed file
  * names carry no arrival order (parquet part names are UUIDs) — so
  * rather than silently double-counting, [[indexDrain]] REJECTS a batch
  * containing a staged doc id under a different src_file, loudly (the
  * [[graft.operators.Dedup.requireIntegralIds]] discipline). Upstreams
  * with genuine doc updates must version their ids (doc_id, rev) or
  * rebuild via [[graft.operators.Retrieval.writeBm25Index]].
  *
  * Staging layout: `<staging>/postings` = `(src_file, term, doc, tf, dl)`
  * keyed `(src_file, doc, term)`; `<staging>/docs` = `(src_file, doc,
  * dl)` keyed `(src_file, doc)` — one row per document, dl = 0 for
  * token-less docs, so N and avgdl count every document. (The per-doc
  * store replaces the earlier per-file `stats` aggregate: same derivable
  * numbers, plus it is what makes the one-doc-one-file guard a cheap
  * doc-keyed anti-probe instead of a postings-scale scan.)
  */
object StreamingRetrieval {

  def indexDrain(spark: SparkSession, sourceDir: String, stagingDir: String,
                 checkpointDir: String, idCol: String, textCol: String,
                 schema: org.apache.spark.sql.types.StructType): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      val toks = batch.select(col("__src").as("src_file"),
        col(idCol).as("doc"),
        explode(filter(
          split(TextFunctions.normalizeForDedup(col(textCol)), " "),
          w => length(w) > 0)).as("term"))
      // four downstream actions read tf (both guards + both appends):
      // uncut, each re-tokenized the whole batch — cache the
      // post-aggregation table so tokenization runs once per wave
      val tf = toks.groupBy("src_file", "doc", "term")
        .agg(count(lit(1)).as("tf"))
        .cache()
      try {
        val dl = tf.groupBy("src_file", "doc").agg(sum("tf").as("dl"))
        val docRows = batch
          .select(col("__src").as("src_file"), col(idCol).as("doc"))
          .join(dl, Seq("src_file", "doc"), "left")
          .select(col("src_file"), col("doc"),
            coalesce(col("dl"), lit(0L)).as("dl"))
        // the one-doc-one-file guard: a staged doc id arriving under a
        // DIFFERENT src_file would double-count postings, df, N and avgdl
        // — fail loudly instead (see the header contract). Replays of the
        // same file pass through and land nothing (idempotent keys).
        // Two files in ONE trigger can clash too — check intra-batch first.
        val dupIn = docRows.groupBy("doc")
          .agg(countDistinct("src_file").as("__n"))
          .filter(col("__n") > 1).limit(5).collect()
        require(dupIn.isEmpty,
          "indexDrain: document id(s) re-arrived in a different source " +
            "file within one batch — version the doc ids or rebuild with " +
            "writeBm25Index. First clashing doc ids: " +
            dupIn.map(_.get(0)).mkString(", "))
        Populate.readIfExists(spark, stagingDir + "/docs").foreach { staged =>
          val clash = docRows.join(
              staged.select(col("doc"), col("src_file").as("__staged_src"))
                .distinct(),
              Seq("doc"))
            .filter(col("src_file") =!= col("__staged_src"))
          val sample = clash.select("doc", "src_file", "__staged_src")
            .limit(5).collect()
          require(sample.isEmpty,
            "indexDrain: document id(s) re-arrived in a different source " +
              "file — the staging store is per-(src_file, doc) idempotent " +
              "and cannot represent doc updates; version the doc ids or " +
              "rebuild with writeBm25Index. First clashes: " +
              sample.map(r => s"doc=${r.get(0)} new=${r.get(1)} " +
                s"staged=${r.get(2)}").mkString("; "))
        }
        Populate.appendIdempotent(
          tf.join(dl, Seq("src_file", "doc"))
            .select("src_file", "term", "doc", "tf", "dl"),
          stagingDir + "/postings", Seq("src_file", "doc", "term"))
        Populate.appendIdempotent(docRows,
          stagingDir + "/docs", Seq("src_file", "doc"))
      } finally tf.unpersist()
    }
  }

  /** Rebuild the [[graft.operators.Retrieval.bm25Probe]] layout from the
    * staged aggregate — tokenization was paid at drain time; this is pure
    * shuffle work over posting rows. The published layout is
    * byte-compatible with [[graft.operators.Retrieval.writeBm25Index]]'s
    * (postings partitioned by `pmod(xxhash64(term), nBuckets)`, df,
    * stats + bucket modulus), so the same probe serves both.
    */
  def publish(spark: SparkSession, stagingDir: String, indexDir: String,
              nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val staged = spark.read.parquet(stagingDir + "/postings")
    staged
      .select(col("term"), col("doc"), col("tf"), col("dl"),
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(indexDir + "/postings")
    staged.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(indexDir + "/df")
    spark.read.parquet(stagingDir + "/docs")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("tot"))
      .withColumn("nbuckets", lit(nBuckets))
      .write.mode("overwrite").parquet(indexDir + "/stats")
  }
}
