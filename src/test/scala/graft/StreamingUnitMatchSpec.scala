package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.EventMatch
import graft.streaming.StreamingUnitMatch

/** Incremental global-unit propagation (`streaming/StreamingUnitMatch`):
  * drained ≡ one-shot over block waves, replay idempotence, and the
  * seed-first gap guard.
  */
class StreamingUnitMatchSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("block", LongType),
    StructField("unit", LongType), StructField("us", LongType)))

  // 4 units on a sparse grid; block b relabels by (u + b) % 4 with times
  // unchanged (perfect cross-block agreement), block 2 adds new unit 9
  private def block(b: Long, withNew: Boolean) = {
    val base = (0L to 3L).flatMap { u =>
      (0 until 40).map(k => (b, (u + b) % 4, k * 100000L + u * 10L))
    }
    val extra = if (withNew)
      (0 until 40).map(k => (b, 9L, k * 100000L + 500L)) else Nil
    (base ++ extra).toDF("block", "unit", "us")
  }

  private def dirs() = {
    val root = Files.createTempDirectory("unitmatch_drain")
    (root.resolve("src").toString, root.resolve("trains").toString,
      root.resolve("asg").toString, root.resolve("ckpt").toString)
  }

  test("drained assignments equal the one-shot propagation across waves") {
    val (src, trains, asg, ckpt) = dirs()
    def wave(): Unit = StreamingUnitMatch.drain(spark, src, trains, asg,
      ckpt, "block", "unit", "us", schema, deltaUs = 4L, minPermille = 500L)
    block(0L, withNew = false).write.mode("append").parquet(src)
    wave()
    block(1L, withNew = false).unionByName(block(2L, withNew = true))
      .write.mode("append").parquet(src)
    wave()
    val drained = StreamingUnitMatch.loadAssignments(spark, asg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val oneShot = EventMatch.propagateGlobalIds(
        Seq(block(0L, withNew = false).select("unit", "us"),
          block(1L, withNew = false).select("unit", "us"),
          block(2L, withNew = true).select("unit", "us")),
        "unit", "us", deltaUs = 4L, minPermille = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(drained === oneShot)
    // the relabeling chain resolves: block 2's unit (u+2)%4 has global u
    (0L to 3L).foreach { u =>
      assert(drained((2L, (u + 2) % 4)) === u, s"two-hop inherit $u")
    }
    assert(drained((2L, 9L)) === 4L, "new unit mints above the running max")

    // replaying the same backlog (fresh checkpoint) is a keyed no-op
    val n = StreamingUnitMatch.loadAssignments(spark, asg).count()
    StreamingUnitMatch.drain(spark, src, trains, asg,
      Files.createTempDirectory("unitmatch_ckpt2").toString,
      "block", "unit", "us", schema, deltaUs = 4L, minPermille = 500L)
    assert(StreamingUnitMatch.loadAssignments(spark, asg).count() === n)
  }

  test("a block draining before its predecessor fails loudly (seed-first guard)") {
    val (src, trains, asg, ckpt) = dirs()
    block(0L, withNew = false).write.mode("append").parquet(src)
    StreamingUnitMatch.drain(spark, src, trains, asg, ckpt,
      "block", "unit", "us", schema, deltaUs = 4L, minPermille = 500L)
    // block 2 lands while block 1 is still missing
    block(2L, withNew = false).write.mode("append").parquet(src)
    val e = intercept[Exception] {
      StreamingUnitMatch.drain(spark, src, trains, asg, ckpt,
        "block", "unit", "us", schema, deltaUs = 4L, minPermille = 500L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("predecessor"))), e.getMessage)
  }

  /** Row counts of the collects `body` runs over the table at `dir`, in
    * order. Each recorded plan is re-executed afterwards: its file index
    * was listed when the collect ran, so it returns the same rows. */
  private def collectsOver(dir: String)(body: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "collect") { seen.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    def reads(qe: QueryExecution, path: String) =
      qe.optimizedPlan.collectLeaves().exists {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
            new java.io.File(p.toUri).getCanonicalPath ==
              new java.io.File(path).getCanonicalPath)
          case _ => false
        }
        case _ => false
      }
    val marker = Files.createTempDirectory("unitmatch_marker") + "/m"
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous: a marker collect queued after
      // the drain's collects shows they have all been delivered
      Seq(1L).toDF("m").write.parquet(marker)
      spark.read.parquet(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.toArray(Array.empty[QueryExecution]).exists(reads(_, marker)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[QueryExecution]).toSeq.filter(reads(_, dir))
      .map(_.executedPlan.executeCollect().length)
  }

  test("a block's assignment collect holds only its predecessor's rows") {
    val (src, trains, asg, ckpt) = dirs()
    def wave(): Unit = StreamingUnitMatch.drain(spark, src, trains, asg,
      ckpt, "block", "unit", "us", schema, deltaUs = 4L, minPermille = 500L)
    // wave 1: blocks 0..4, four units each — every predecessor is the
    // block assigned just before, carried on the driver
    (0L to 4L).map(block(_, withNew = false)).reduce(_ unionByName _)
      .write.mode("append").parquet(src)
    assert(collectsOver(asg)(wave()).isEmpty,
      "in-wave predecessors must come from the driver, not the table")
    // wave 2: block 5 against the persisted block 4 — one catalog row per
    // done block (5), then the predecessor's 4 units, never all 20 rows
    block(5L, withNew = false).write.mode("append").parquet(src)
    assert(collectsOver(asg)(wave()) == Seq(5, 4))
    val drained = StreamingUnitMatch.loadAssignments(spark, asg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val oneShot = EventMatch.propagateGlobalIds(
        (0L to 5L).map(block(_, withNew = false).select("unit", "us")),
        "unit", "us", deltaUs = 4L, minPermille = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(drained === oneShot)
  }
}
