package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Robust
import graft.streaming.StreamingHampel

/** Drained trailing Hampel ≡ one-shot: the per-key tail buffer must
  * reproduce the causal window across arbitrary chronological splits.
  */
class StreamingHampelSpec extends SparkSpec {
  import spark.implicits._

  private val window = 7
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("tie", LongType), StructField("vm", LongType)))

  private def genRows(seed: Int, n: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (rnd.nextInt(keys).toLong,
        new Timestamp(1700000000000L + i * 30000L), i.toLong,
        rnd.nextInt(1000).toLong +
          (if (rnd.nextInt(20) == 0) 500000L else 0L)) // planted spikes
    }
  }

  private type Row = (Long, Long, Long, Long, Long, Long, Boolean)

  private def oneShot(rows: Seq[(Long, Timestamp, Long, Long)]) =
    Robust.hampelFilterTrailing(rows.toDF("k", "ts", "tie", "vm"),
        "k", "ts", "tie", "vm", window, k = 3)
      .select(col("k"), unix_micros(col("ts")).as("us"), col("tie"),
        col("vm"), col("med2"), col("mad2"), col("is_outlier"))
      .as[Row].collect().toSet

  private def drained(waves: Seq[Seq[(Long, Timestamp, Long, Long)]]) = {
    val root = Files.createTempDirectory("graft-hampel-spec").toString
    val (src, out, buf, ckpt) =
      (root + "/src", root + "/o", root + "/b", root + "/c")
    waves.foreach { wave =>
      wave.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
      StreamingHampel.drain(spark, src, out, buf, ckpt,
        "k", "ts", "tie", "vm", schema, window, k = 3)
    }
    StreamingHampel.loadScored(spark, out).as[Row].collect().toSet
  }

  test("three waves equal the one-shot, spikes flagged across boundaries") {
    val rows = genRows(61, 400, 4).sortBy(r => (r._2.getTime, r._3))
    val got = drained(Seq(rows.take(130), rows.slice(130, 260),
      rows.drop(260)))
    assert(got === oneShot(rows))
    assert(got.exists(_._7), "fixture should flag some spikes")
    assert(got.exists(!_._7))
  }

  test("a wave of single rows still sees the full trailing window") {
    // each wave delivers ONE row; every window after the first spans
    // wave boundaries and exists only through the buffer
    val rows = (0 until 15).map(i =>
      (5L, new Timestamp(1700000000000L + i * 1000L), i.toLong,
        if (i == 9) 999999L else 100L + i))
    val got = drained(rows.map(Seq(_)))
    assert(got === oneShot(rows))
    assert(got.find(_._3 == 9L).get._7, "the spike row flags")
  }

  test("one drain call splitting into multiple micro-batches composes") {
    // >64 source files forces AvailableNow (maxFilesPerTrigger=64) to run
    // SEVERAL micro-batches inside ONE drain call — the state plumbing
    // must compose batch-to-batch exactly as it does wave-to-wave.
    // Files must land in CHRONOLOGICAL name order (the late-row rule
    // drops out-of-order batches), so rows are split into ordered slabs.
    val rows = genRows(71, 320, 3).sortBy(r => (r._2.getTime, r._3))
    val root = Files.createTempDirectory("graft-hampel-multibatch").toString
    val (src, out, buf, ckpt) =
      (root + "/src", root + "/o", root + "/b", root + "/c")
    rows.grouped(4).zipWithIndex.foreach { case (slab, i) =>
      slab.toDF("k", "ts", "tie", "vm").coalesce(1)
        .write.mode("append").parquet(f"$src/slab=$i%04d")
    }
    StreamingHampel.drain(spark, src + "/*", out, buf, ckpt,
      "k", "ts", "tie", "vm", schema, window, k = 3)
    val got = StreamingHampel.loadScored(spark, out).as[Row].collect().toSet
    assert(got === oneShot(rows))
  }

  test("replayed drain is a no-op") {
    val rows = genRows(67, 150, 2).sortBy(r => (r._2.getTime, r._3))
    val root = Files.createTempDirectory("graft-hampel-idem").toString
    val (src, out, buf, ckpt) =
      (root + "/src", root + "/o", root + "/b", root + "/c")
    rows.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
    def run(checkpoint: String = ckpt): Set[Row] = {
      StreamingHampel.drain(spark, src, out, buf, checkpoint,
        "k", "ts", "tie", "vm", schema, window, k = 3)
      StreamingHampel.loadScored(spark, out).as[Row].collect().toSet
    }
    val first = run()
    val second = run()
    assert(first === second)
    assert(first === oneShot(rows))
    // a fresh checkpoint re-delivers every row: the late rule drops them
    val n = StreamingHampel.loadScored(spark, out).count()
    assert(run(root + "/c2") === oneShot(rows))
    assert(StreamingHampel.loadScored(spark, out).count() === n)
  }
}
