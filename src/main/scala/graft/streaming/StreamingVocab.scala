package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Populate, Vocab}

/** Restartable word-count accumulation for tokenizer training — the
  * [[StreamingDsir.trainDrain]] discipline applied to BPE's input state:
  * each source FILE's normalized word counts land in a persisted table as
  * `(src_file, word, freq)` rows, idempotently keyed on
  * `(src_file, word)`. The file path is the append unit's STABLE identity,
  * so a lost checkpoint replaying re-batched files can never double-count.
  * A new tokenizer epoch trains from the aggregate
  * (`Vocab.trainBpeFromCounts(loadWordCounts(...), ...)`) without
  * re-tokenizing the corpus — word counts are plain sums, so the
  * accumulated table equals the one-shot [[Vocab.wordCounts]] regardless
  * of how the corpus arrived (spec-pinned).
  */
object StreamingVocab {

  def trainDrain(spark: SparkSession, sourceDir: String, countsDir: String,
                 checkpointDir: String, textCol: String,
                 schema: org.apache.spark.sql.types.StructType): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir,
      bindSourceFile = true) { batch =>
      val rows = Vocab.wordCountsBy(batch, "__src", textCol)
        .withColumnRenamed("__src", "src_file")
      Populate.appendIdempotent(rows, countsDir, Seq("src_file", "word"))
    }
  }

  /** The accumulated `(word, freq)` table of a [[trainDrain]] store (empty
    * if nothing has landed yet). Feed to [[Vocab.trainBpeFromCounts]].
    */
  def loadWordCounts(spark: SparkSession, countsDir: String): DataFrame =
    Populate.readIfExists(spark, countsDir)
      .map(_.groupBy("word").agg(sum(col("freq")).as("freq")))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("word"), lit(0L).as("freq")).limit(0))

  /** TOKENIZE-the-backlog drain — the [[StreamingDsir.drain]] shape
    * applied to the tokenizer: newly-landed document files are encoded
    * under a PINNED merge table and appended to a persisted tokens store
    * `(idCol, subwords, n_subwords)` idempotently keyed on the doc id.
    * The merge table is the store's IDENTITY (tokens under different
    * merges are not comparable — retraining means re-draining from
    * scratch, same contract as the DSIR score table's pinned weights);
    * encoding is a pure per-document function, so the streamed result is
    * batch-split-invariant by construction (spec pins drained ≡ one-shot
    * anyway).
    */
  def encodeDrain(spark: SparkSession, sourceDir: String, tokensDir: String,
                  checkpointDir: String, idCol: String, textCol: String,
                  schema: org.apache.spark.sql.types.StructType,
                  merges: Seq[Vocab.BpeMerge]): Unit = {
    StreamOps.drainFiles(spark, sourceDir, schema, checkpointDir) { batch =>
      val enc = Vocab.encodeBpe(batch.select(col(idCol), col(textCol)),
          idCol, textCol, merges)
        .select(col(idCol), col("subwords"),
          size(col("subwords")).cast("long").as("n_subwords"))
      Populate.appendIdempotent(enc, tokensDir, Seq(idCol))
    }
  }
}
