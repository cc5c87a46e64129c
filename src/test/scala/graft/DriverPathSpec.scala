package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

import graft.operators.{Dedup, DriverPath, Graphs}
import graft.streaming.StreamingUnitMatch

/** The boundary of the one driver-or-distributed guard,
  * `DriverPath.collect`: the budget, the checkpointer, the id type and
  * nulls each decide it, directly and through the operators that use it.
  */
class DriverPathSpec extends SparkSpec {
  import spark.implicits._

  private val pairs = DriverPath.pairs

  /** Jobs `body` starts, counted once the asynchronous listener bus has
    * settled. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      var prev = -1
      var cur = jobs.get()
      while (prev != cur) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      (out, cur)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  // built on range, not a local Seq: a local relation collects without a job
  private val ten = spark.range(1, 11).select(col("id").as("a"),
    (col("id") + 100L).as("b"))

  test("exactly budget rows take the driver path, budget + 1 the distributed one") {
    val (atBudget, jobsAt) = jobsOf(DriverPath.collect[(Long, Long)](ten, 10L)(pairs))
    assert(atBudget.map(_.toSet) == Right((1L to 10L).map(i => (i, i + 100L)).toSet))
    assert(jobsAt > 0)
    val (over, jobsOver) = jobsOf(DriverPath.collect[(Long, Long)](ten, 9L)(pairs))
    assert(over == Left("more than 9 rows"))
    assert(jobsOver > 0, "the size rule needs the collect")
    // through an operator: a 4-clique has 6 undirected edges
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val driver = Graphs.triangleCounts(k4, "src", "dst", driverMaxEdges = 6)
    val distributed = Graphs.triangleCounts(k4, "src", "dst", driverMaxEdges = 5)
    assert(isLocal(driver) && !isLocal(distributed))
    assert(driver.collect().toSet == distributed.collect().toSet)
  }

  test("budget 0 takes the distributed path without a job") {
    Seq(0L, -1L).foreach { b =>
      val (out, jobs) = jobsOf(DriverPath.collect[(Long, Long)](ten, b)(pairs))
      assert(out.left.exists(_.contains("budget")), out)
      assert(jobs == 0)
    }
  }

  test("a Reliable checkpointer takes the distributed path, connectedComponents too") {
    val dir = Files.createTempDirectory("graft-driverpath-ckpt").toString
    val reliable = Dedup.Checkpointer.Reliable(dir)
    val (out, jobs) = jobsOf(DriverPath.collect[(Long, Long)](ten, 10L, reliable)(pairs))
    assert(out.left.exists(_.contains("durable final cut")), out)
    assert(jobs == 0)
    // at the default budget the driver union-find would release its edge
    // cut and leave the dir empty; the distributed loop keeps exactly the
    // final labels' cut
    val chain = Seq((20L, 10L), (20L, 30L), (40L, 50L)).toDF("id_a", "id_b")
    def labels(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    val got = labels(Dedup.connectedComponents(chain, "id_a", "id_b",
      checkpointer = reliable))
    assert(got == labels(Dedup.connectedComponents(chain, "id_a", "id_b")))
    val uuidDirs = new java.io.File(dir).listFiles().count(_.isDirectory)
    assert(uuidDirs == 1, s"expected the final labels' cut only, got $uuidDirs")
  }

  test("a null id takes the distributed path") {
    val withNull = spark.range(1, 3).select(col("id").as("a"),
      when(col("id") === 2L, lit(null)).otherwise(col("id")).as("b"))
    val (out, jobs) = jobsOf(DriverPath.collect[(Long, Long)](withNull, 10L)(pairs))
    assert(out == Left("a collected value is null"))
    assert(jobs > 0, "nulls are seen by the collect")
  }

  test("a non-BIGINT id takes the distributed path without a job") {
    val ints = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val (out, jobs) = jobsOf(DriverPath.collect[(Long, Long)](ints, 10L)(pairs))
    assert(out == Left("column 'src' is INT, not BIGINT"))
    assert(jobs == 0)
    // pageRank keeps the input id type, which only the distributed path does
    val pr = Graphs.pageRank(ints, "src", "dst", iterations = 2)
    assert(!isLocal(pr))
    assert(pr.schema("node").dataType == IntegerType)
  }

  test("StreamingUnitMatch names the reason the guard refused a block") {
    val root = Files.createTempDirectory("driverpath_unitmatch")
    val Seq(src, trains, asg, ckpt) =
      Seq("src", "trains", "asg", "ckpt").map(root.resolve(_).toString)
    val schema = StructType(Seq(StructField("block", LongType),
      StructField("unit", LongType), StructField("us", LongType)))
    Seq[(Long, java.lang.Long, Long)]((0L, 1L, 100L), (0L, null, 200L))
      .toDF("block", "unit", "us").write.parquet(src)
    val e = intercept[Exception] {
      StreamingUnitMatch.drain(spark, src, trains, asg, ckpt, "block", "unit",
        "us", schema, deltaUs = 4L, minPermille = 500L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    val msgs = chain(e).flatMap(c => Option(c.getMessage))
    val refusal = msgs.find(_.contains("cannot be assigned on the driver"))
    assert(refusal.exists(_.contains("null")), msgs.mkString("\n"))
    assert(!refusal.exists(_.contains("outgrew")))
  }
}
