package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Populate
import graft.streaming.StreamingRecuration

/** Streaming re-curation (`streaming/StreamingRecuration`): waves of
  * keyed invalidation requests cascade + re-derive; latest wave wins on
  * overlap; replays converge.
  */
class StreamingRecurationSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("rule", LongType)))

  test("waves re-curate their keys, latest wave wins, replay is a no-op") {
    val root = Files.createTempDirectory("recuration").toString
    val (parent, child, reqs, ckpt) = (root + "/p", root + "/c",
      root + "/reqs", root + "/ckpt")
    val chain = Seq(parent -> Seq("k"), child -> Seq("k"))
    // bootstrap: v(k) = k*10 + rule, child w = v + 1
    def populate(keys: DataFrame): Unit = {
      val p = Populate.derive(keys,
        Populate.readIfExists(spark, parent).map(_.select("k")), Seq("k"))(
        nk => nk.select(col("k"), (col("k") * 10L + col("rule")).as("v")))
      Populate.appendIdempotent(p, parent, Seq("k"))
      val pNow = Populate.readIfExists(spark, parent).get
      val c = Populate.derive(pNow.select("k"),
        Populate.readIfExists(spark, child), Seq("k"))(nk =>
        pNow.join(nk, Seq("k"), "left_semi")
          .select(col("k"), (col("v") + 1L).as("w")))
      Populate.appendIdempotent(c, child, Seq("k"))
    }
    populate(spark.range(0, 30).select(col("id").as("k"),
      lit(1L).as("rule")))
    def wave(ck: String): Unit = StreamingRecuration.drain(spark, reqs, ck,
      schema, Seq("k"), chain)(w =>
      // monotone rules: max(rule) = latest-wins under merged replays
      populate(w.groupBy("k").agg(max(col("rule")).as("rule"))))
    // wave 1: k % 3 == 0 at rule 2
    spark.range(0, 30).select(col("id").as("k"), lit(2L).as("rule"))
      .filter(col("k") % 3 === 0).write.mode("append").parquet(reqs)
    wave(ckpt)
    // wave 2: k % 4 == 0 at rule 3 (k % 12 == 0 re-curates AGAIN)
    spark.range(0, 30).select(col("id").as("k"), lit(3L).as("rule"))
      .filter(col("k") % 4 === 0).write.mode("append").parquet(reqs)
    wave(ckpt)
    def state(): Map[Long, (Long, Long)] =
      Populate.readIfExists(spark, parent).get
        .join(Populate.readIfExists(spark, child).get, Seq("k"))
        .select("k", "v", "w").as[(Long, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val got = state()
    (0L until 30L).foreach { k =>
      val rule = if (k % 4 == 0) 3L else if (k % 3 == 0) 2L else 1L
      assert(got(k) === ((k * 10 + rule, k * 10 + rule + 1)), s"k=$k")
    }
    // full-backlog replay through a FRESH checkpoint: both waves re-apply
    // in landing order and the state converges to the same fixpoint
    wave(Files.createTempDirectory("recuration_ckpt2").toString)
    assert(state() === got)
  }
}
