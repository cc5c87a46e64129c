package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** The V2 clock-binary source: pushdown reaches the scan, files outside the
  * pushed range are skipped on stats alone, pruned columns are not
  * materialized, and results match the reader-function path.
  */
class ClockBinarySourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("clock_v2")
    for (k <- 0 until 4) {
      val values = (0 until 10).map(i => k * 1000L + i * 100L)
      val buf = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      values.foreach(buf.putLong)
      Files.write(d.resolve(s"Dev_Clock_$k.bin"), buf.array())
    }
    d
  }
  private lazy val glob = dir.resolve("*.bin").toString

  private def readClock = spark.read.format("graft-clock").load(glob)

  test("unfiltered scan decodes every file and row") {
    assert(readClock.count() == 40)
    val r = readClock.orderBy("file", "row_index")
      .select("clock").as[Long].collect()
    assert(r.head == 0L && r.last == 3900L)
  }

  test("clock range filter is pushed to the scan and rows match") {
    val df = readClock.filter(col("clock").between(1500L, 2500L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("clockRange=[1500,2500]"), s"pushdown missing in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(clock,1500"), "PushedFilters not shown")
    val clocks = df.select("clock").as[Long].collect().sorted
    assert(clocks.sameElements((1500L to 1900L by 100) ++ (2000L to 2500L by 100)))
  }

  test("equality filter prunes to one file, one row") {
    val df = readClock.filter(col("clock") === 2000L)
    assert(df.queryExecution.executedPlan.toString.contains("clockRange=[2000,2000]"))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("row_index") == 0L)
  }

  test("column pruning: clock-only projection still correct") {
    val only = readClock.select("clock").filter(col("clock") >= 3000L)
    assert(only.as[Long].collect().sorted.sameElements(3000L to 3900L by 100))
  }

  test("matches the reader-function path exactly") {
    // the rows the fixture wrote in [1500, 2500]: file 1 rows 5..9, file 2
    // rows 0..5
    val written = (for (k <- 0 until 4; i <- 0 until 10)
      yield (s"Dev_Clock_$k.bin", i.toLong, k * 1000L + i * 100L))
      .filter(r => r._3 >= 1500L && r._3 <= 2500L)
    val viaFn = graft.sources.BronzeIngest
      .flatBinaryU64Range(spark, glob, 1500L, 2500L)
      .select("file", "row_index", "clock").orderBy("clock")
      .collect().map(r => (r.getString(0).split('/').last, r.getLong(1), r.getLong(2)))
    assert(viaFn.toSeq == written)
  }

  test("an interval past every file returns empty without error") {
    assert(readClock.filter(col("clock") > 99999L).count() == 0)
  }

  test("loading a directory reads its files (no silent empty scan)") {
    val df = spark.read.format("graft-clock").load(dir.toString)
    assert(df.count() == 40)
  }

  test("multi-path load reads every listed glob (paths property)") {
    val df = spark.read.format("graft-clock")
      .load(dir.resolve("Dev_Clock_0.bin").toString,
        dir.resolve("Dev_Clock_2.bin").toString)
    assert(df.count() == 20)
  }

  test("nested directories are listed recursively") {
    val root = Files.createTempDirectory("clock_nested")
    val sub = Files.createDirectories(root.resolve("epoch1/device"))
    val buf = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(5L, 6L, 7L).foreach(buf.putLong)
    Files.write(sub.resolve("c.bin"), buf.array())
    assert(spark.read.format("graft-clock").load(root.toString).count() == 3)
  }

  // --- payload formats (f32 / u16) with companion-clock pushdown ---

  /** 3 ephys chunks: u16 payload (2 channels x 8 samples) + companion clock
    * files (8 uint64s) in a sibling dir, chunk k clocking [k*1000, k*1000+700].
    */
  private lazy val ephys: (String, String) = {
    val d = Files.createTempDirectory("ephys_v2")
    val amp = Files.createDirectories(d.resolve("amp"))
    val clk = Files.createDirectories(d.resolve("clock"))
    for (k <- 0 until 3) {
      val pay = ByteBuffer.allocate(8 * 2 * 2).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 8; c <- 0 until 2)
        pay.putShort((k * 100 + r * 10 + c).toShort)
      Files.write(amp.resolve(s"chunk_$k.bin"), pay.array())
      val cb = ByteBuffer.allocate(8 * 8).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 8).foreach(r => cb.putLong(k * 1000L + r * 100L))
      Files.write(clk.resolve(s"chunk_$k.bin"), cb.array())
    }
    (amp.resolve("*.bin").toString, clk.toString)
  }

  private def readEphys = spark.read.format("graft-clock")
    .option("format", "u16").option("channels", "2")
    .option("gain", "0.195").option("offset", "-3.0")
    .option("clock", ephys._2)
    .load(ephys._1)

  test("u16 ephys read: samples scaled by gain/offset, clock from companion") {
    val rows = readEphys.orderBy("clock").collect()
    assert(rows.length == 24)
    val first = rows.head
    assert(first.getAs[Long]("clock") == 0L)
    val samples = first.getSeq[Double](first.fieldIndex("samples"))
    assert(samples == Seq(0 * 0.195 - 3.0, 1 * 0.195 - 3.0))
    val last = rows.last
    assert(last.getAs[Long]("clock") == 2700L)
    assert(last.getSeq[Double](last.fieldIndex("samples")).head == 270 * 0.195 - 3.0)
  }

  test("u16 clock-range filter pushes down and prunes to the overlapping chunk") {
    val df = readEphys.filter(col("clock").between(1000L, 1150L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("clockRange=[1000,1150]"), s"pushdown missing in:\n$plan")
    val rows = df.select("file", "clock").collect()
    assert(rows.length == 2) // clocks 1000 and 1100 of chunk_1
    assert(rows.forall(_.getString(0).contains("chunk_1")))
  }

  test("f32 payload with named cols and companion clock matches written values") {
    val d = Files.createTempDirectory("f32_v2")
    val pay = Files.createDirectories(d.resolve("pos"))
    val clk = Files.createDirectories(d.resolve("clock"))
    val pb = ByteBuffer.allocate(4 * 2 * 4).order(ByteOrder.LITTLE_ENDIAN)
    for (r <- 0 until 4; c <- 0 until 2) pb.putFloat(r + c / 10.0f)
    Files.write(pay.resolve("p.bin"), pb.array())
    val cb = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 4).foreach(r => cb.putLong(r * 50L))
    Files.write(clk.resolve("p.bin"), cb.array())

    val df = spark.read.format("graft-clock")
      .option("format", "f32").option("cols", "x,y")
      .option("clock", clk.toString)
      .load(pay.resolve("*.bin").toString)
    assert(df.schema.fieldNames.toSeq == Seq("file", "row_index", "clock", "x", "y"))
    val r2 = df.filter(col("clock") === 100L).collect()
    assert(r2.length == 1 && r2.head.getAs[Float]("x") == 2.0f
      && r2.head.getAs[Float]("y") == 2.1f)
    // pruned projection: payload-only scan (no clock column) still decodes
    val xs = df.select("x").as[Float].collect().sorted
    assert(xs.sameElements(Array(0.0f, 1.0f, 2.0f, 3.0f)))
  }

  test("delegated BronzeIngest.flatBinaryU16 equals the inline decode contract") {
    val df = graft.sources.BronzeIngest.flatBinaryU16(spark, ephys._1,
      nChannels = 2, gain = 2.0, offset = 1.0)
    assert(df.schema.fieldNames.toSeq == Seq("file", "row_index", "samples"))
    val r0 = df.orderBy("file", "row_index").head()
    assert(r0.getSeq[Double](2) == Seq(0 * 2.0 + 1.0, 1 * 2.0 + 1.0))
    assert(df.count() == 24)
  }

  test("companion row-count mismatch fails loudly, not by misalignment") {
    val d = Files.createTempDirectory("mismatch_v2")
    val pay = Files.createDirectories(d.resolve("amp"))
    val clk = Files.createDirectories(d.resolve("clock"))
    Files.write(pay.resolve("a.bin"), new Array[Byte](2 * 2 * 4)) // 4 rows
    Files.write(clk.resolve("a.bin"), new Array[Byte](8 * 3))     // 3 rows
    val err = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-clock")
        .option("format", "u16").option("channels", "2")
        .option("clock", clk.toString)
        .load(pay.resolve("*.bin").toString)
        .filter(col("clock") >= 0L).count()
    }
    assert(err.getMessage.contains("rows") || err.getCause != null)
  }

  test("min/max/count aggregates push into the scan and merge across files") {
    val agg = readClock.agg(min("clock").as("mn"), max("clock").as("mx"),
      count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [MIN(clock), MAX(clock), COUNT(*)]"),
      s"aggregates not pushed in:\n$plan")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (0L, 3900L, 40L))
  }

  test("pushed aggregates read ONLY the 16 stat bytes (interior never decoded)") {
    // a file deliberately violating the monotonic contract: interior value 5
    // sits below first=100. A stats-only aggregate reports min=100 (exactly
    // parquet-footer-stats semantics); a decoding aggregate would report 5 —
    // so this asserts no payload byte was read.
    val d = Files.createTempDirectory("agg_stats")
    val buf = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(100L, 5L, 900L).foreach(buf.putLong)
    Files.write(d.resolve("c.bin"), buf.array())
    val r = spark.read.format("graft-clock").load(d.resolve("*.bin").toString)
      .agg(min("clock"), max("clock"), count(lit(1))).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (100L, 900L, 3L))
  }

  test("a row filter blocks aggregate pushdown and results stay exact") {
    val agg = readClock.filter(col("clock") >= 1000L)
      .agg(min("clock").as("mn"), max("clock").as("mx"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates: [MIN"),
      "aggregates must not push under a residual row filter")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1000L, 3900L, 30L))
  }

  test("count(*) pushes for payload formats via file length alone") {
    val agg = spark.read.format("graft-clock")
      .option("format", "u16").option("channels", "2")
      .load(ephys._1).agg(count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), s"no count pushdown:\n$plan")
    assert(agg.head().getLong(0) == 24L)
  }

  test("a directory of 1,000 tiny files packs into bounded partitions") {
    val d = Files.createTempDirectory("clock_many")
    for (k <- 0 until 1000) {
      val buf = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      buf.putLong(k * 10L); buf.putLong(k * 10L + 5L)
      Files.write(d.resolve(f"Dev_Clock_$k%04d.bin"), buf.array())
    }
    val many = d.resolve("*.bin").toString

    // default budget: 1,000 × 16-byte files are one scheduler task, not 1,000
    val packed = spark.read.format("graft-clock").load(many)
    assert(packed.rdd.getNumPartitions == 1,
      s"got ${packed.rdd.getNumPartitions} partitions for 1,000 tiny files")
    assert(packed.count() == 2000)

    // an explicit budget bounds the pack: 100 files × 16 B per partition
    val budgeted = spark.read.format("graft-clock")
      .option("maxPartitionBytes", (100 * 16).toString).load(many)
    assert(budgeted.rdd.getNumPartitions == 10)
    assert(budgeted.count() == 2000)

    // per-file clock pruning binds INSIDE a packed partition: an equality
    // probe still returns exactly its row, and the pushdown reaches the scan
    val probe = budgeted.filter(col("clock") === 4875L)
    assert(probe.queryExecution.executedPlan.toString.contains("clockRange=[4875,4875]"))
    assert(probe.select("clock", "row_index").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((4875L, 1L)))
  }

  test("Packing.pack preserves order, respects the cap, never splits an item") {
    import graft.sources.Packing
    val items = Seq(("a", 10L), ("b", 20L), ("c", 15L), ("d", 40L), ("e", 5L))
    assert(Packing.pack(items, 30L) ==
      Seq(Seq("a", "b"), Seq("c"), Seq("d"), Seq("e")))
    // an oversize item gets its own bin rather than splitting or failing
    assert(Packing.pack(Seq(("big", 100L), ("s", 1L)), 10L) ==
      Seq(Seq("big"), Seq("s")))
    assert(Packing.pack(Nil: Seq[(String, Long)], 10L).isEmpty)
    // everything fits in one bin
    assert(Packing.pack(items, 1000L) == Seq(Seq("a", "b", "c", "d", "e")))
  }

  test("missing required payload options fail with a clear message") {
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft-clock").option("format", "u16").load(ephys._1)
    }
    assert(e1.getMessage.contains("channels"))
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-clock").option("format", "f32").load(ephys._1)
    }
    assert(e2.getMessage.contains("cols"))
  }
}
