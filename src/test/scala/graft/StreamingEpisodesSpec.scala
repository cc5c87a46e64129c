package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Behavior
import graft.streaming.StreamingEpisodes

/** Drained episode extraction ≡ one-shot: the carried per-key chain state
  * (gated last-occurrence carries + running blocker count) must reproduce
  * [[Behavior.matchEpisodes]] across arbitrary chronological splits —
  * including splits that land different stages of one episode in
  * different waves.
  */
class StreamingEpisodesSpec extends SparkSpec {
  import spark.implicits._

  private val stages = Seq("a", "b", "c")
  private val windowSec = 3600L

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("tie", LongType), StructField("ty", StringType)))

  private def genRows(seed: Int, n: Int, keys: Int) = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("a", "b", "c", "x", "noise")
    (0 until n).map { i =>
      (rnd.nextInt(keys).toLong,
        new Timestamp(1700000000000L + i * 120000L), i.toLong,
        types(rnd.nextInt(types.size)))
    }
  }

  private def oneShot(rows: Seq[(Long, Timestamp, Long, String)]) =
    Behavior.matchEpisodes(rows.toDF("k", "ts", "tie", "ty"),
        "k", "ts", "tie", "ty", stages, blocker = "x",
        windowSec = windowSec, carryCols = Seq("tie"))
      .select(col("k"), col("a_us"), col("b_us"), col("c_us"),
        col("n_blockers"), col("tie"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet

  private def drained(waves: Seq[Seq[(Long, Timestamp, Long, String)]]) = {
    val root = Files.createTempDirectory("graft-episodes-spec").toString
    val (src, out, state, ckpt) =
      (root + "/src", root + "/e", root + "/s", root + "/c")
    waves.foreach { wave =>
      wave.toDF("k", "ts", "tie", "ty").write.mode("append").parquet(src)
      StreamingEpisodes.episodeDrain(spark, src, out, state, ckpt,
        "k", "ts", "tie", "ty", schema, stages, blocker = "x",
        windowSec = windowSec)
    }
    // a corpus with zero episodes never creates the output table
    if (!Files.exists(java.nio.file.Paths.get(out)))
      Set.empty[(Long, Long, Long, Long, Long, Long)]
    else StreamingEpisodes.loadEpisodes(spark, out)
      .select(col("key"), col("a_us"), col("b_us"), col("c_us"),
        col("n_blockers"), col("tie"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
  }

  test("three waves equal the one-shot on random event streams") {
    val rows = genRows(31, 600, 5).sortBy(r => (r._2.getTime, r._3))
    val got = drained(Seq(rows.take(180), rows.slice(180, 420),
      rows.drop(420)))
    assert(got === oneShot(rows))
    assert(got.nonEmpty, "fixture should produce episodes")
  }

  test("a chain split across every wave boundary still completes") {
    // a..b..c with each stage in its OWN wave: the final event can only
    // match through the carried chain state; a blocker rides along in
    // wave 2, so the carried blocker count is load-bearing too
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    val w1 = Seq((5L, t(0), 0L, "a"), (5L, t(10), 1L, "noise"))
    val w2 = Seq((5L, t(20), 2L, "x"), (5L, t(30), 3L, "b"))
    val w3 = Seq((5L, t(40), 4L, "x"), (5L, t(50), 5L, "c"))
    val got = drained(Seq(w1, w2, w3))
    assert(got === oneShot(w1 ++ w2 ++ w3))
    // one episode: a@0, b@30, c@50, with BOTH blockers (x@20, x@40)
    // strictly between the a row and the c row — x@20 crosses the
    // wave-1/2 boundary and x@40 the wave-2/3 boundary, so the count is
    // only right if the carried blocker totals compose across both
    val base = 1700000000000000L
    assert(got.map(e => (e._2, e._3, e._4, e._5)) ===
      Set((base, base + 30000000L, base + 50000000L, 2L)))
  }

  test("the window check uses the carried stage-0 timestamp across waves") {
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // chain completes BUT the anchor is too old: must NOT emit
    val w1 = Seq((9L, t(0), 0L, "a"), (9L, t(10), 1L, "b"))
    val w2 = Seq((9L, t(windowSec + 60), 2L, "c"))
    assert(drained(Seq(w1, w2)) === Set.empty[(Long, Long, Long, Long, Long, Long)])
    // and just inside the window it DOES emit
    val w2ok = Seq((9L, t(windowSec - 60), 2L, "c"))
    val got = drained(Seq(w1, w2ok))
    assert(got === oneShot(w1 ++ w2ok))
    assert(got.size === 1)
  }

  test("replayed drain is a no-op") {
    val rows = genRows(47, 300, 3).sortBy(r => (r._2.getTime, r._3))
    val root = Files.createTempDirectory("graft-episodes-idem").toString
    val (src, out, state, ckpt) =
      (root + "/src", root + "/e", root + "/s", root + "/c")
    rows.toDF("k", "ts", "tie", "ty").write.mode("append").parquet(src)
    def run(checkpoint: String = ckpt)
        : Set[(Long, Long, Long, Long, Long, Long)] = {
      StreamingEpisodes.episodeDrain(spark, src, out, state, checkpoint,
        "k", "ts", "tie", "ty", schema, stages, blocker = "x",
        windowSec = windowSec)
      StreamingEpisodes.loadEpisodes(spark, out)
        .select(col("key"), col("a_us"), col("b_us"), col("c_us"),
          col("n_blockers"), col("tie"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    }
    val first = run()
    val second = run()
    assert(first === second)
    assert(first === oneShot(rows))
    // a fresh checkpoint re-delivers every row: the late rule drops them
    val n = StreamingEpisodes.loadEpisodes(spark, out).count()
    assert(run(root + "/c2") === oneShot(rows))
    assert(StreamingEpisodes.loadEpisodes(spark, out).count() === n)
  }
}
