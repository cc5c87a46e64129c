package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Populate
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("chunkCounts over a MemoryStream groups into 1-hour chunks") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val q = StreamOps.chunkCounts(df, "ts", Seq("k"))
      .writeStream.format("memory").queryName("chunks_test")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "a", 1.0),
        (ts("2024-01-01 10:55:00"), "a", 2.0),
        (ts("2024-01-01 11:05:00"), "a", 3.0),
        (ts("2024-01-01 10:30:00"), "b", 4.0))
      q.processAllAvailable()
      val out = spark.table("chunks_test")
        .select("k", "chunk_start", "sample_count").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(out == Set(
        ("a", ts("2024-01-01 10:00:00"), 2L),
        ("a", ts("2024-01-01 11:00:00"), 1L),
        ("b", ts("2024-01-01 10:00:00"), 1L)))
    } finally q.stop()
  }

  test("chunkCounts watermark drops data later than the lateness bound (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val q = StreamOps.chunkCounts(df, "ts", Seq("k"), lateness = "2 hours")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      // Batch 1 advances event time to 18:00 → watermark becomes 16:00.
      mem.addData(
        (ts("2024-01-01 10:30:00"), "a", 1.0),
        (ts("2024-01-01 18:00:00"), "a", 2.0))
      q.processAllAvailable()
      // Batch 2: one on-time row and one 6h-late row (behind the watermark).
      mem.addData(
        (ts("2024-01-01 18:10:00"), "a", 3.0),
        (ts("2024-01-01 10:45:00"), "a", 99.0)) // LATE → must be dropped
      q.processAllAvailable()
      // Close remaining windows so append emits them.
      mem.addData((ts("2024-01-02 12:00:00"), "a", 4.0))
      q.processAllAvailable()

      val counts = spark.table("wm_test")
        .select("chunk_start", "sample_count").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      // the 10:00 chunk closed with ONE row — the late 10:45 row never counted
      assert(counts(ts("2024-01-01 10:00:00")) == 1L)
      assert(counts(ts("2024-01-01 18:00:00")) == 2L)
    } finally q.stop()
  }

  test("epochClosures repairs the prior open epoch when its successor arrives") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val df = mem.toDF().toDF("experiment", "epoch_start")
    val q = StreamOps.epochClosures(df)
      .writeStream.format("memory").queryName("closure_test")
      .outputMode("append").start()
    try {
      // Batch 1: first epoch arrives — it is OPEN, nothing can be emitted yet.
      mem.addData(("exp1", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("closure_test").isEmpty)

      // Batch 2: the successor arrives — the PRIOR epoch is re-emitted CLOSED
      // with its corrected end (the look-back repair, not a watermark drop).
      mem.addData(("exp1", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("closure_test")
        .select("experiment", "epoch_start", "epoch_end", "epoch_duration_s")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3)))
      assert(afterB2.toSeq == Seq(
        ("exp1", ts("2024-01-01 10:00:00"), ts("2024-01-01 12:30:00"), 9000.0)))

      // Batch 3: an OUT-OF-ORDER epoch earlier than the open one, plus a
      // redelivered duplicate of the open start (at-least-once). The late
      // epoch closes against the open one; the duplicate emits nothing.
      mem.addData(
        ("exp1", ts("2024-01-01 11:00:00")),
        ("exp1", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val afterB3 = spark.table("closure_test")
        .select("epoch_start", "epoch_end").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1))).toSet
      assert(afterB3 == Set(
        (ts("2024-01-01 10:00:00"), ts("2024-01-01 12:30:00")),
        (ts("2024-01-01 11:00:00"), ts("2024-01-01 12:30:00"))))

      // Batch 4: a second experiment is independent state.
      mem.addData(
        ("exp2", ts("2024-01-02 08:00:00")),
        ("exp2", ts("2024-01-02 09:00:00")))
      q.processAllAvailable()
      val exp2 = spark.table("closure_test")
        .filter($"experiment" === "exp2")
        .select("epoch_start", "epoch_end").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1))).toSet
      assert(exp2 == Set((ts("2024-01-02 08:00:00"), ts("2024-01-02 09:00:00"))))
    } finally q.stop()
  }

  test("epochClosures union over batches equals batch epochsWithClosure") {
    val starts = Seq(
      ("expA", ts("2024-03-01 00:00:00")),
      ("expA", ts("2024-03-01 07:30:00")),
      ("expA", ts("2024-03-02 13:00:00")),
      ("expA", ts("2024-03-03 01:15:00")),
      ("expB", ts("2024-03-01 12:00:00")),
      ("expB", ts("2024-03-05 09:45:00")))

    // Streaming result, across an arbitrary batch split (including one batch
    // that delivers epochs for both experiments out of arrival order).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val df = mem.toDF().toDF("experiment", "epoch_start")
    val q = StreamOps.epochClosures(df)
      .writeStream.format("memory").queryName("closure_equiv")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(starts(0), starts(4))
      q.processAllAvailable()
      mem.addData(starts(2), starts(1)) // expA out of order within the batch
      q.processAllAvailable()
      mem.addData(starts(3), starts(5))
      q.processAllAvailable()
      spark.table("closure_equiv")
        .select("experiment", "epoch_start", "epoch_end").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    } finally q.stop()

    // Batch reference: lead() closure restricted to rows with a successor.
    val batch = graft.sources.BronzeIngest
      .epochsWithClosure(starts.toDF("experiment", "epoch_start"))
      .filter(col("epoch_end").isNotNull)
      .select("experiment", "epoch_start", "epoch_end").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(streamed == batch)
    assert(streamed.size == 4)

    // The same code path runs in batch mode (state starts empty, one pass) —
    // the populate engine can reuse it verbatim.
    val batchMode = StreamOps.epochClosures(starts.toDF("experiment", "epoch_start"))
      .select("experiment", "epoch_start", "epoch_end").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(batchMode == batch)
  }

  test("sessionAgg batch-mode matches gap semantics") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), "u"),
      (ts("2024-01-01 10:10:00"), "u"),
      (ts("2024-01-01 11:30:00"), "u")).toDF("ts", "k")
    val out = StreamOps.sessionAgg(df, "ts", Seq("k"), gap = "30 minutes")
      .select("k", "n_events").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("u", 2L), ("u", 1L)))
  }

  test("windowedStats batch-mode computes per-window stats") {
    val df = Seq(
      (ts("2024-01-01 10:05:00"), "a", 1.0),
      (ts("2024-01-01 10:35:00"), "a", 3.0),
      (ts("2024-01-01 11:05:00"), "a", 5.0)).toDF("ts", "k", "v")
    val out = StreamOps.windowedStats(df, "ts", "v", Seq("k"))
      .orderBy("window_start")
      .select("count", "min", "max", "mean").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 2 && out(0).getDouble(3) == 2.0)
    assert(out(1).getLong(0) == 1 && out(1).getDouble(3) == 5.0)
  }

  // ---- the drain skeleton (StreamOps.drainFiles) ----

  private val idSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  /** Land `ids` under `dir` as one parquet file named `name`. */
  private def land(dir: java.nio.file.Path, name: String, ids: Seq[Long]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-land")
    ids.toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("out").toString)
    val listing = java.nio.file.Files.list(tmp.resolve("out"))
    val part = try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally listing.close()
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.move(part, dir.resolve(name))
    ()
  }

  test("drainFiles rethrows a failed wave, leaves it uncommitted, and a re-run converges") {
    val root = java.nio.file.Files.createTempDirectory("graft-drainfault")
    val (src, ckpt) = (root.resolve("src"), root.resolve("ckpt").toString)
    val (faulty, clean) = (root.resolve("faulty").toString,
      root.resolve("clean").toString)
    def drain(target: String, checkpoint: String, failOn: Option[Long] = None,
              seen: collection.mutable.Buffer[Long] =
                collection.mutable.Buffer.empty): Unit =
      StreamOps.drainFiles(spark, src.toString, idSchema, checkpoint) { batch =>
        seen ++= batch.as[Long].collect()
        // the append lands BEFORE the fault: the retry must converge anyway
        Populate.appendIdempotent(batch, target, Seq("id"))
        if (failOn.exists(id => batch.filter(col("id") === id).count() > 0))
          throw new IllegalStateException("injected wave fault")
      }
    land(src, "a.parquet", Seq(1L, 2L))
    drain(faulty, ckpt)
    land(src, "b.parquet", Seq(3L, 4L))
    val e = intercept[Exception] {
      drain(faulty, ckpt, failOn = Some(3L))
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("injected wave fault"))), e.getMessage)
    // batch 1 was planned (offsets/1) but never committed (commits/1)
    assert(new java.io.File(ckpt, "commits/0").exists())
    assert(new java.io.File(ckpt, "offsets/1").exists())
    assert(!new java.io.File(ckpt, "commits/1").exists())
    // the same checkpoint re-delivers exactly the failed batch
    val redelivered = collection.mutable.Buffer.empty[Long]
    drain(faulty, ckpt, seen = redelivered)
    assert(redelivered.sorted == Seq(3L, 4L))
    assert(new java.io.File(ckpt, "commits/1").exists())
    // ... and converges to the table a fault-free run writes
    drain(clean, root.resolve("ckpt-clean").toString)
    def rows(t: String) = spark.read.parquet(t).as[Long].collect().sorted.toSeq
    assert(rows(faulty) == Seq(1L, 2L, 3L, 4L))
    assert(rows(faulty) == rows(clean))
  }

  test("drainFiles binds each row's landed file as __src only when asked") {
    val root = java.nio.file.Files.createTempDirectory("graft-drainsrc")
    val src = root.resolve("src")
    land(src, "a.parquet", Seq(1L, 2L))
    land(src, "b.parquet", Seq(3L))
    val bound = collection.mutable.Buffer.empty[(Long, String)]
    StreamOps.drainFiles(spark, src.toString, idSchema,
      root.resolve("ckpt1").toString, bindSourceFile = true) { batch =>
      bound ++= batch.select("id", "__src").as[(Long, String)].collect()
    }
    val fileOf = bound.map { case (id, path) =>
      id -> java.nio.file.Paths.get(new java.net.URI(path)).getFileName.toString
    }.toMap
    assert(fileOf == Map(1L -> "a.parquet", 2L -> "a.parquet",
      3L -> "b.parquet"))
    val columns = collection.mutable.Buffer.empty[Seq[String]]
    StreamOps.drainFiles(spark, src.toString, idSchema,
      root.resolve("ckpt2").toString) { batch =>
      columns += batch.columns.toSeq
    }
    assert(columns.nonEmpty && columns.forall(_ == Seq("id")))
  }

  // ---- the keyed wave (StreamOps.keyedRead + commitWave) ----

  test("commitWave appends outputs before state: a failed output leaves " +
    "the frontier, and the retry converges") {
    val root = java.nio.file.Files.createTempDirectory("graft-keyedwave")
    val src = root.resolve("src")
    // a minimal frontier drain over (key = id % 2, us = id); `plant` makes
    // the output frame throw while the wave writes it
    def wave(tables: String, checkpoint: String,
             plant: Option[Long] = None): Unit =
      StreamOps.drainFiles(spark, src.toString, idSchema, checkpoint) { batch =>
        val state = s"$tables/state"
        val fresh = StreamOps.keyedRead(
          batch.select((col("id") % 2).as("key"), col("id").as("us")),
          StreamOps.readLatest(spark, state, Seq("last_us")), Seq("last_us"))
        val v = plant.fold(col("us"))(p => when(col("us") === p,
          raise_error(lit("planted output fault"))).otherwise(col("us")))
        StreamOps.commitWave(
          Seq((fresh.select(col("key"), col("us"), v.as("v")),
            s"$tables/out", Seq("key", "us"))),
          fresh.withColumnRenamed("us", "last_us"), state,
          Seq("key", "last_us"), Seq("last_us"), newestBy = Seq("last_us"))
      }
    def frontier(tables: String) =
      StreamOps.readLatest(spark, s"$tables/state", Seq("last_us")).get
        .as[(Long, Long)].collect().sorted.toSeq
    def out(tables: String) = spark.read.parquet(s"$tables/out")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val (faulty, clean) = (root.resolve("faulty").toString,
      root.resolve("clean").toString)
    val ckpt = root.resolve("ckpt").toString
    land(src, "a.parquet", Seq(1L, 2L))
    wave(faulty, ckpt)
    val before = frontier(faulty)
    assert(before == Seq((0L, 2L), (1L, 1L)))
    land(src, "b.parquet", Seq(3L, 4L, 5L))
    intercept[Exception](wave(faulty, ckpt, plant = Some(4L)))
    // state-first would have advanced the frontier to 4 and 5 here, and
    // the retry would drop the whole re-delivered batch as late
    assert(frontier(faulty) == before, "state advanced past a failed output")
    wave(faulty, ckpt)
    wave(clean, root.resolve("ckpt-clean").toString)
    assert(out(faulty) == Seq((0L, 2L, 2L), (0L, 4L, 4L), (1L, 1L, 1L),
      (1L, 3L, 3L), (1L, 5L, 5L)))
    assert(out(faulty) == out(clean))
    assert(frontier(faulty) == frontier(clean))
  }
}
