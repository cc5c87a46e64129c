package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.operators.Populate
import graft.streaming.StreamOps

/** A crash between `replaceAtomic`'s delete and its rename leaves a
  * complete staged snapshot and no table. Every reader must publish that
  * snapshot before reading: a reader that sees "no table" instead lets the
  * next append publish a fresh table over it and orphans the snapshot's
  * rows for good. The crash is injected through [[FaultyFileSystem]] at the
  * rename that publishes the table, so the planted state is exactly the
  * one the protocol leaves.
  */
class StagedRecoverySpec extends SparkSpec {
  import spark.implicits._
  import FaultyFileSystem._

  FaultyFileSystem.register(spark.sparkContext.hadoopConfiguration)

  /** Run `write` with the rename onto `table` failing, as a crash would. */
  private def crashAtSwap(table: String)(write: => Unit): Unit = {
    val target = new Path(table).toUri.getPath
    armWhen(Throw)(op => op.kind == "rename" && op.paths.last == target)
    try intercept[Exception](write) finally disarm()
    val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(table)), "the crash left the table in place")
  }

  private def freshRoot(): String =
    uri(Files.createTempDirectory("graft-staged").toString)

  test("a compacted state table survives a crash at its swap") {
    val state = freshRoot() + "/state"
    Seq(Seq(("a", 1L), ("b", 1L)), Seq(("a", 2L), ("b", 3L))).foreach { w =>
      Populate.appendIdempotent(w.toDF("key", "last_us"), state,
        Seq("key", "last_us"))
    }
    crashAtSwap(state)(Populate.compactLatest(spark, state, Seq("key"), "last_us"))

    val latest = StreamOps.readLatest(spark, state, Seq("last_us"))
    assert(latest.map(_.as[(String, Long)].collect().toSet) ==
      Some(Set(("a", 2L), ("b", 3L))))
    assert(Populate.appendIdempotent(Seq(("c", 5L), ("a", 2L))
      .toDF("key", "last_us"), state, Seq("key", "last_us")) == 1)
    assert(spark.read.parquet(state).as[(String, Long)].collect().toSet ==
      Set(("a", 2L), ("b", 3L), ("c", 5L)))
  }

  test("an invalidated table survives a crash at its swap") {
    val table = freshRoot() + "/t"
    Populate.appendIdempotent((0L to 5L).map(k => (k, k * 10)).toDF("k", "v"),
      table, Seq("k"))
    crashAtSwap(table)(Populate.invalidate(spark, Seq(table -> Seq("k")),
      Seq(0L, 1L).toDF("k")))

    assert(Populate.readIfExists(spark, table)
      .map(_.as[(Long, Long)].collect().toSet) ==
      Some((2L to 5L).map(k => (k, k * 10)).toSet))
    assert(Populate.appendIdempotent(Seq((0L, 100L), (2L, 999L)).toDF("k", "v"),
      table, Seq("k")) == 1)
    assert(spark.read.parquet(table).as[(Long, Long)].collect().toSet ==
      ((2L to 5L).map(k => (k, k * 10)) :+ ((0L, 100L))).toSet)
  }
}
