package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Behavior
import graft.streaming.StreamingAttribution

/** Drained attribution ≡ one-shot: the window-bounded touch buffer must
  * reproduce [[Behavior.attribution]] across arbitrary chronological
  * splits — including conversions whose whole lookback window sits in an
  * earlier wave.
  */
class StreamingAttributionSpec extends SparkSpec {
  import spark.implicits._

  private val touchTypes = Seq("t1", "t2")
  private val windowSec = 1800L

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("tie", LongType), StructField("ty", StringType)))

  private def genRows(seed: Int, n: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("t1", "t2", "conv", "noise")
    (0 until n).map { i =>
      (rnd.nextInt(keys).toLong,
        new Timestamp(1700000000000L + i * 60000L), i.toLong,
        types(rnd.nextInt(types.size)))
    }
  }

  private type Row = (Long, Long, Long, Long, String, Long, String, Long)

  private def oneShot(rows: Seq[(Long, Timestamp, Long, String)]) =
    Behavior.attribution(rows.toDF("k", "ts", "tie", "ty"),
        "k", "ts", "tie", "ty", touchTypes, "conv", windowSec)
      .as[Row].collect().toSet

  private def drained(waves: Seq[Seq[(Long, Timestamp, Long, String)]]) = {
    val root = Files.createTempDirectory("graft-attrib-spec").toString
    val (src, out, touches, frontier, ckpt) = (root + "/src", root + "/o",
      root + "/t", root + "/f", root + "/c")
    waves.foreach { wave =>
      wave.toDF("k", "ts", "tie", "ty").write.mode("append").parquet(src)
      StreamingAttribution.attributionDrain(spark, src, out, touches,
        frontier, ckpt, "k", "ts", "tie", "ty", schema, touchTypes,
        "conv", windowSec)
    }
    // a corpus with zero attributed conversions never creates the table
    if (!Files.exists(java.nio.file.Paths.get(out))) Set.empty[Row]
    else StreamingAttribution.loadAttributed(spark, out)
      .as[Row].collect().toSet
  }

  test("three waves equal the one-shot on random event streams") {
    val rows = genRows(17, 500, 4).sortBy(r => (r._2.getTime, r._3))
    val got = drained(Seq(rows.take(150), rows.slice(150, 350),
      rows.drop(350)))
    assert(got === oneShot(rows))
    assert(got.nonEmpty, "fixture should produce attributed conversions")
  }

  test("a conversion reads touches buffered from earlier waves") {
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // both touches in wave 1, the conversion alone in wave 2 (in window):
    // attribution works only through the persisted buffer
    val w1 = Seq((3L, t(0), 0L, "t1"), (3L, t(100), 1L, "t2"))
    val w2 = Seq((3L, t(900), 2L, "conv"))
    val got = drained(Seq(w1, w2))
    assert(got === oneShot(w1 ++ w2))
    val base = 1700000000000000L
    assert(got === Set((3L, 2L, base + 900000000L, 2L,
      "t1", base, "t2", base + 100000000L)))
    // a touch OUTSIDE the window must not be picked up from the buffer
    val w1b = Seq((4L, t(0), 0L, "t1"))
    val w2b = Seq((4L, t(windowSec + 100), 1L, "conv"))
    assert(drained(Seq(w1b, w2b)) === Set.empty[Row])
  }

  test("the buffer survives an idle wave between touch and conversion") {
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    val w1 = Seq((6L, t(0), 0L, "t1"))
    val w2 = Seq((7L, t(200), 1L, "noise")) // other key only
    val w3 = Seq((6L, t(400), 2L, "conv"))
    val got = drained(Seq(w1, w2, w3))
    assert(got === oneShot(w1 ++ w2 ++ w3))
    assert(got.size === 1)
  }

  test("replayed drain is a no-op") {
    val rows = genRows(23, 240, 3).sortBy(r => (r._2.getTime, r._3))
    val root = Files.createTempDirectory("graft-attrib-idem").toString
    val (src, out, touches, frontier, ckpt) = (root + "/src", root + "/o",
      root + "/t", root + "/f", root + "/c")
    rows.toDF("k", "ts", "tie", "ty").write.mode("append").parquet(src)
    def run(checkpoint: String = ckpt): Set[Row] = {
      StreamingAttribution.attributionDrain(spark, src, out, touches,
        frontier, checkpoint, "k", "ts", "tie", "ty", schema, touchTypes,
        "conv", windowSec)
      StreamingAttribution.loadAttributed(spark, out).as[Row].collect().toSet
    }
    val first = run()
    val second = run()
    assert(first === second)
    assert(first === oneShot(rows))
    // a fresh checkpoint re-delivers every row: the late rule drops them
    val n = StreamingAttribution.loadAttributed(spark, out).count()
    assert(run(root + "/c2") === oneShot(rows))
    assert(StreamingAttribution.loadAttributed(spark, out).count() === n)
  }
}
