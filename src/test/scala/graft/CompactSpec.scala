package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** `Layout.compact`: in-place small-file compaction. Pins the contract the
  * scaladoc claims — values/schema/partition-dirs preserved exactly, file
  * counts bounded by the byte target, idempotent re-run, and crash recovery
  * at both swap windows (staged-superseded and staged-complete-leaf-gone).
  */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(root: String): Unit =
    (1 to 600).map(i => (i.toLong, i * 7L % 31, s"p${i % 3}"))
      .toDF("id", "v", "p")
      .repartition(20) // 20 tiny files per leaf
      .write.partitionBy("p").mode("overwrite").parquet(root)

  private def visibleParquet(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))

  test("compact: merges each leaf, preserves data exactly, idempotent") {
    val root = Files.createTempDirectory("graft-compact").toString + "/t"
    fixture(root)
    val before = spark.read.parquet(root)
      .as[(Long, Long, String)].collect().toSet
    val stats = Layout.compact(spark, root, targetBytes = 1L << 30)
    assert(stats.map(_.dir.split('/').last).sorted ==
      Seq("p=p0", "p=p1", "p=p2"))
    stats.foreach { st =>
      assert(st.filesBefore == 20 && st.filesAfter == 1, st.toString)
    }
    Seq("p=p0", "p=p1", "p=p2").foreach { leaf =>
      assert(visibleParquet(new java.io.File(root, leaf)).size == 1)
    }
    val after = spark.read.parquet(root)
      .as[(Long, Long, String)].collect().toSet
    assert(after == before)
    // second run: every leaf already meets its target — nothing selected
    assert(Layout.compact(spark, root, targetBytes = 1L << 30).isEmpty)
  }

  test("compact: byte target bounds the output file count, not always 1") {
    val root = Files.createTempDirectory("graft-compact").toString + "/flat"
    (1 to 400).map(i => (i.toLong, ("x" * 200) + i)).toDF("id", "s")
      .repartition(16).write.mode("overwrite").parquet(root)
    val bytes = visibleParquet(new java.io.File(root)).map(_.length()).sum
    // target = ~1/3 of the data → ceil(bytes/target) = 3 files requested
    val stats = Layout.compact(spark, root, targetBytes = bytes / 3 + 1)
    assert(stats.size == 1 && stats.head.filesBefore == 16)
    assert(stats.head.filesAfter == 3, stats.head.toString)
    assert(spark.read.parquet(root).count() == 400)
  }

  test("compact: recovers a completeness-marked staged leaf whose swap crashed") {
    val root = Files.createTempDirectory("graft-compact").toString + "/t"
    fixture(root)
    val expect = spark.read.parquet(root)
      .as[(Long, Long, String)].collect().toSet
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    // simulate the crash window: staged dir complete, leaf deleted
    val leaf = new Path(root, "p=p1")
    val staged = new Path(root, ".p=p1.__staged")
    spark.read.parquet(leaf.toString).coalesce(1)
      .write.parquet(staged.toString)
    fs.create(new Path(staged, "_GRAFT_STAGED_COMPLETE"), true).close()
    fs.delete(leaf, true)
    // ...and a half-written (markerless) staged dir beside a LIVE leaf,
    // which must be retired, not published
    val stale = new Path(root, ".p=p2.__staged")
    fs.mkdirs(stale)
    val stats = Layout.compact(spark, root, targetBytes = 1L << 30)
    assert(!fs.exists(staged) && !fs.exists(stale))
    assert(spark.read.parquet(root)
      .as[(Long, Long, String)].collect().toSet == expect)
    // the recovered leaf was already 1 file; the other two got compacted
    assert(stats.map(_.dir.split('/').last).sorted == Seq("p=p0", "p=p2"))
  }

  test("compact: markerless staged dir with a missing leaf fails loudly") {
    val root = Files.createTempDirectory("graft-compact").toString + "/t"
    fixture(root)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val staged = new Path(root, ".p=p0.__staged")
    fs.mkdirs(staged)
    fs.delete(new Path(root, "p=p0"), true)
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, root, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("not auto-fixable"))
  }
}
