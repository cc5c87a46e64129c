package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Behavior
import graft.streaming.StreamingCusum

/** Drained CUSUM ≡ one-shot: the carried (prefix sum, prefix min) state
  * must reproduce the closed form across arbitrary chronological splits.
  */
class StreamingCusumSpec extends SparkSpec {
  import spark.implicits._

  private val drift = 50L
  private val threshold = 800L

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("tie", LongType), StructField("vm", LongType)))

  private def genRows(seed: Int, n: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (rnd.nextInt(keys).toLong,
        new Timestamp(1700000000000L + i * 10000L), i.toLong,
        (rnd.nextInt(300) - 100).toLong)
    }
  }

  private def oneShot(rows: Seq[(Long, Timestamp, Long, Long)]) =
    Behavior.cusum(rows.toDF("k", "ts", "tie", "vm"), "k", "ts", "tie",
        "vm", drift, threshold)
      .filter(col("alarm"))
      .select(col("k"), unix_micros(col("ts")).as("us"), col("tie"),
        col("s_micro"))
      .as[(Long, Long, Long, Long)].collect().toSet

  private def drained(waves: Seq[Seq[(Long, Timestamp, Long, Long)]]) = {
    val root = Files.createTempDirectory("graft-cusum-spec").toString
    val (src, alarms, state, ckpt) =
      (root + "/src", root + "/a", root + "/s", root + "/c")
    waves.foreach { wave =>
      wave.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
      StreamingCusum.drain(spark, src, alarms, state, ckpt,
        "k", "ts", "tie", "vm", schema, drift, threshold)
    }
    StreamingCusum.loadAlarms(spark, alarms)
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("three waves equal the one-shot closed form") {
    val rows = genRows(13, 500, 4).sortBy(_._2.getTime)
    val got = drained(Seq(rows.take(150), rows.slice(150, 380),
      rows.drop(380)))
    assert(got === oneShot(rows))
    assert(got.nonEmpty, "fixture should produce alarms")
  }

  test("wave boundaries cannot reset the detector mid-excursion") {
    // a rising run that only crosses threshold in the SECOND wave: the
    // carried prefix state must keep accumulating across the boundary
    val rows = (0 until 40).map { i =>
      (7L, new Timestamp(1700000000000L + i * 1000L), i.toLong, 80L)
    } // d = +30 per row => S = 30*(i+1), crosses 800 at i = 26
    val got = drained(Seq(rows.take(20), rows.drop(20)))
    assert(got === oneShot(rows))
    assert(got.map(_._3).min === 26L)
  }

  test("replayed drain is a no-op") {
    val rows = genRows(29, 200, 3).sortBy(_._2.getTime)
    val root = Files.createTempDirectory("graft-cusum-idem").toString
    val (src, alarms, state, ckpt) =
      (root + "/src", root + "/a", root + "/s", root + "/c")
    rows.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
    StreamingCusum.drain(spark, src, alarms, state, ckpt,
      "k", "ts", "tie", "vm", schema, drift, threshold)
    val first = StreamingCusum.loadAlarms(spark, alarms)
      .as[(Long, Long, Long, Long)].collect().toSet
    StreamingCusum.drain(spark, src, alarms, state, ckpt,
      "k", "ts", "tie", "vm", schema, drift, threshold)
    val second = StreamingCusum.loadAlarms(spark, alarms)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(first === second)
    assert(first === oneShot(rows))
    // a fresh checkpoint re-delivers every row: the late rule drops them
    val n = StreamingCusum.loadAlarms(spark, alarms).count()
    StreamingCusum.drain(spark, src, alarms, state, root + "/c2",
      "k", "ts", "tie", "vm", schema, drift, threshold)
    val replayed = StreamingCusum.loadAlarms(spark, alarms)
    assert(replayed.count() === n)
    assert(replayed.as[(Long, Long, Long, Long)].collect().toSet === oneShot(rows))
  }
}
