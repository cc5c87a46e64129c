package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.operators.Populate

/** The staged-commit append must hold its headline guarantee — no duplicate
  * PKs under concurrent writers — and its visibility guarantees (staged
  * files invisible to readers; lock/staging debris inert).
  */
class ConcurrentAppendSpec extends SparkSpec {
  import spark.implicits._

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

  test("two concurrent writers with overlapping keys never duplicate PKs") {
    val path = java.nio.file.Files.createTempDirectory("conc_append").toString + "/t"
    // three rounds of two writers whose key ranges overlap by half — every
    // round races the check-then-append critical section
    (0 until 3).foreach { round =>
      val base = round * 200 // rounds use disjoint key ranges
      val a = Future {
        Populate.appendIdempotentExclusive(
          (base until base + 100).map(k => (k.toLong, s"a$round")).toDF("pk", "src"),
          path, Seq("pk"))
      }
      val b = Future {
        Populate.appendIdempotentExclusive(
          (base + 50 until base + 150).map(k => (k.toLong, s"b$round")).toDF("pk", "src"),
          path, Seq("pk"))
      }
      val (na, nb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
      // the two writers covered 150 distinct keys; whoever lost the race
      // for the 50-key overlap wrote 50 fewer rows
      assert(na + nb == 150, s"round $round wrote ${na + nb} rows, expected 150")
    }

    val table = spark.read.parquet(path)
    assert(table.count() == 450)
    assert(table.select(countDistinct(col("pk"))).head().getLong(0) == 450)
    // last round's full key range is present (nothing lost, nothing doubled)
    assert(table.filter(col("pk") >= 400 && col("pk") < 550).count() == 150)
  }

  test("staging debris and the lock file are invisible to readers") {
    val path = java.nio.file.Files.createTempDirectory("conc_append2").toString + "/t"
    Populate.appendIdempotentExclusive(
      Seq((1L, "x"), (2L, "y")).toDF("pk", "src"), path, Seq("pk"))

    // simulate a crashed writer: an abandoned staging dir with a stray file,
    // plus a stale lock — readers must see neither
    val staging = new java.io.File(path, ".staging-dead")
    assert(staging.mkdirs())
    val stray = new java.io.File(staging, "part-junk.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    java.nio.file.Files.write(new java.io.File(path, "_graft_commit.lock").toPath,
      Array.empty[Byte])

    assert(spark.read.parquet(path).count() == 2)

    // and a subsequent writer surfaces the stale lock rather than stealing it
    val err = intercept[IllegalStateException] {
      Populate.appendIdempotentExclusive(
        Seq((3L, "z")).toDF("pk", "src"), path, Seq("pk"), lockTimeoutMs = 500L)
    }
    assert(err.getMessage.contains("_graft_commit.lock"))
  }

  test("retry after a simulated mid-publish crash converges without duplicates") {
    val path = java.nio.file.Files.createTempDirectory("conc_append3").toString + "/t"
    Populate.appendIdempotentExclusive(
      (0L until 10L).map(k => (k, "first")).toDF("pk", "src"), path, Seq("pk"))
    // a mid-publish crash leaves a PREFIX of complete part files visible —
    // equivalent to some rows having committed. Retrying the same append
    // must skip exactly those and add only what's missing.
    val n = Populate.appendIdempotentExclusive(
      (0L until 20L).map(k => (k, "retry")).toDF("pk", "src"), path, Seq("pk"))
    assert(n == 10)
    val table = spark.read.parquet(path)
    assert(table.count() == 20)
    assert(table.select(countDistinct(col("pk"))).head().getLong(0) == 20)
  }

  test("replaceAtomic: snapshots swap in place and survive every crash window") {
    val root = java.nio.file.Files.createTempDirectory("replace_atomic").toString
    val path = root + "/t"
    Populate.replaceAtomic(Seq((1L, "v1")).toDF("id", "v"), path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("v1"))

    // the new snapshot's plan reads the OLD table — no lineage cut needed,
    // because the staged write never touches the source until it's complete
    val derived = spark.read.parquet(path).withColumn("v", lit("v2"))
    Populate.replaceAtomic(derived, path)
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("v2"))

    // crash window 1: incomplete staging (no completeness marker) — old
    // table intact, next read ignores the debris. A committer _SUCCESS
    // alone must NOT count (mapreduce.fileoutputcommitter.marksuccessfuljobs
    // is deployment-controlled): a marker-less staged dir means the crash
    // predates the table delete, so the live table is the truth.
    val staged = java.nio.file.Paths.get(root, ".t.__staged")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-junk.parquet"), Array[Byte](1))
    java.nio.file.Files.write(staged.resolve("_SUCCESS"), Array.empty[Byte])
    assert(Populate.readIfExists(spark, path).get
      .collect().map(_.getString(1)).toSeq == Seq("v2"))

    // crash window 2: complete staged copy (replaceAtomic's own marker
    // present), table deleted (crash between delete and rename) —
    // readIfExists publishes the staged snapshot
    Seq((1L, "v3")).toDF("id", "v").write.mode("overwrite")
      .parquet(staged.toString)
    java.nio.file.Files.write(staged.resolve("_GRAFT_STAGED_COMPLETE"),
      Array.empty[Byte])
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    assert(Populate.readIfExists(spark, path).get
      .collect().map(_.getString(1)).toSeq == Seq("v3"))
    // and the recovery is durable: the table is back in place
    assert(spark.read.parquet(path).collect().map(_.getString(1)).toSeq == Seq("v3"))
  }

  test("an exclusive append into an existing table launches no more jobs than a plain one") {
    val root = java.nio.file.Files.createTempDirectory("conc_append_jobs").toString
    val (plain, exclusive) = (root + "/plain", root + "/exclusive")
    def rows(from: Long, to: Long, src: String) =
      spark.range(from, to).select(col("id").as("pk"), lit(src).as("src"))
    Seq(plain, exclusive).foreach(t =>
      Populate.appendIdempotent(rows(0, 50, "old"), t, Seq("pk")))
    val batch = rows(25, 100, "new")
    val (nPlain, plainJobs) = jobsOf(
      Populate.appendIdempotent(batch, plain, Seq("pk")))
    val (nExclusive, exclusiveJobs) = jobsOf(
      Populate.appendIdempotentExclusive(batch, exclusive, Seq("pk")))
    assert(nPlain == 50 && nExclusive == 50)
    assert(exclusiveJobs <= plainJobs, s"the exclusive append launched " +
      s"$exclusiveJobs jobs, the plain one $plainJobs")
  }
}
