package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingBehavior

/** Drained burst detection ≡ one-shot: random series split into
  * chronological waves must land the identical burst table, bursts
  * chaining across wave boundaries through the persisted state; replayed
  * drains are no-ops.
  */
class StreamingBurstsSpec extends SparkSpec {
  import spark.implicits._

  private val threshold = 500L
  private val gapSec = 100L

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("tie", LongType), StructField("vm", LongType)))

  /** Literal sequential reference: crossings then gap-chaining per key. */
  private def reference(rows: Seq[(Long, Timestamp, Long, Long)])
    : Set[(Long, Long, Long, Long, Long, Long)] = {
    rows.groupBy(_._1).flatMap { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._3))
      val crossings = sorted.zip(sorted.drop(1)).collect {
        case ((_, _, _, pv), (_, ts, _, v))
          if pv < threshold && v >= threshold => (ts.getTime * 1000L, v)
      }
      val bursts = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      crossings.foreach { c =>
        if (bursts.isEmpty || c._1 - bursts.last.last._1 > gapSec * 1000000L)
          bursts += scala.collection.mutable.ArrayBuffer(c)
        else bursts.last += c
      }
      bursts.zipWithIndex.map { case (b, i) =>
        (k, i.toLong, b.size.toLong, b.head._1, b.last._1, b.map(_._2).max)
      }
    }.toSet
  }

  private def drained(waves: Seq[Seq[(Long, Timestamp, Long, Long)]])
    : (Set[(Long, Long, Long, Long, Long, Long)], String) = {
    val root = Files.createTempDirectory("graft-burst-spec").toString
    val (src, bursts, state, ckpt) =
      (root + "/src", root + "/b", root + "/s", root + "/c")
    waves.foreach { wave =>
      wave.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
      StreamingBehavior.burstDrain(spark, src, bursts, state, ckpt,
        "k", "ts", "tie", "vm", schema, threshold, gapSec)
    }
    val got = StreamingBehavior.loadBursts(spark, bursts, state)
      .select("key", "burst_id", "n_crossings", "burst_start_us",
        "burst_end_us", "peak_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    (got, root)
  }

  private def genRows(seed: Int, n: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (rnd.nextInt(keys).toLong,
        new Timestamp(1700000000000L + i * 20000L + rnd.nextInt(5) * 1000L),
        i.toLong, rnd.nextInt(1000).toLong)
    }
  }

  test("three chronological waves equal the sequential reference") {
    val rows = genRows(3, 600, 4)
    val sorted = rows.sortBy(_._2.getTime)
    val waves = Seq(sorted.take(200), sorted.slice(200, 450), sorted.drop(450))
    val (got, _) = drained(waves)
    assert(got === reference(rows))
  }

  test("single wave equals multi-wave (split invariance)") {
    val rows = genRows(9, 400, 3)
    val sorted = rows.sortBy(_._2.getTime)
    val (one, _) = drained(Seq(sorted))
    val (three, _) = drained(Seq(sorted.take(100), sorted.slice(100, 300),
      sorted.drop(300)))
    assert(one === three)
    assert(one === reference(rows))
  }

  test("a burst spanning the wave boundary chains through state") {
    // key 0: crossings at t=0s and t=50s (within gap), wave split between
    // them — must come back as ONE burst of 2 crossings
    val rows = Seq(
      (0L, new Timestamp(1700000000000L), 0L, 100L),
      (0L, new Timestamp(1700000001000L), 1L, 600L),  // crossing 1
      (0L, new Timestamp(1700000020000L), 2L, 100L),
      (0L, new Timestamp(1700000050000L), 3L, 700L),  // crossing 2
      (0L, new Timestamp(1700000500000L), 4L, 100L),
      (0L, new Timestamp(1700000600000L), 5L, 800L))  // crossing 3, new burst
    val (got, _) = drained(Seq(rows.take(3), rows.drop(3)))
    assert(got === Set(
      (0L, 0L, 2L, 1700000001000000L, 1700000050000000L, 700L),
      (0L, 1L, 1L, 1700000600000000L, 1700000600000000L, 800L)))
  }

  test("re-draining with no new files is a no-op") {
    val rows = genRows(21, 300, 3).sortBy(_._2.getTime)
    val root = Files.createTempDirectory("graft-burst-idem").toString
    val (src, bursts, state, ckpt) =
      (root + "/src", root + "/b", root + "/s", root + "/c")
    rows.toDF("k", "ts", "tie", "vm").write.mode("append").parquet(src)
    StreamingBehavior.burstDrain(spark, src, bursts, state, ckpt,
      "k", "ts", "tie", "vm", schema, threshold, gapSec)
    val first = StreamingBehavior.loadBursts(spark, bursts, state)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    StreamingBehavior.burstDrain(spark, src, bursts, state, ckpt,
      "k", "ts", "tie", "vm", schema, threshold, gapSec)
    val second = StreamingBehavior.loadBursts(spark, bursts, state)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(first === second)
    assert(first === reference(rows))
    // a fresh checkpoint re-delivers every row: the late rule drops them
    val n = StreamingBehavior.loadBursts(spark, bursts, state).count()
    StreamingBehavior.burstDrain(spark, src, bursts, state, root + "/c2",
      "k", "ts", "tie", "vm", schema, threshold, gapSec)
    val replayed = StreamingBehavior.loadBursts(spark, bursts, state)
    assert(replayed.count() === n)
    assert(replayed.as[(Long, Long, Long, Long, Long, Long)].collect().toSet ===
      reference(rows))
  }
}
