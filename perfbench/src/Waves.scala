package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{EventMatch, Populate, Resample}
import graft.streaming.{IncrementalPopulate, StreamingResample, StreamingUnitMatch}

/** `populate_waves`: hourly chunks land one wave at a time and each wave
  * drains them into derived tables through three incremental drains plus a
  * direct idempotent append. The chunks (`events-HH.parquet`,
  * `spikes-HH.parquet` under `chunkDir`) come from `perfbench/chunks.py`;
  * `plan` lists the chunks each wave lands, a negative entry `-(h+1)`
  * re-landing chunk h under a new file name as a replay.
  *
  * Every pass starts from empty tables. After the first pass of a run the
  * drained tables must equal a one-shot batch computation over the union
  * of the distinct chunks, so no replayed row may have been appended.
  */
final class PopulateWaves(work: String, chunkDir: String, plan: Seq[Seq[Int]]) extends Workload {
  import PopulateWaves._

  def name: String = "populate_waves"
  def nominalPassSeconds: Double = 8.5
  private var passDir = ""

  override def beginPass(spark: SparkSession, p: Int): Unit = {
    passDir = s"$work/pass-$p"
    deleteTree(passDir)
  }

  def pass(p: Int): Seq[Op] = plan.zipWithIndex.map { case (entries, i) =>
    new WaveOp(i, entries, chunkDir, () => passDir)
  }

  /** One wave on its own scratch tables: the streaming and populate code
    * paths load and compile once before anything is timed. */
  def warmup(spark: SparkSession): Unit = {
    passDir = s"$work/warmup"
    deleteTree(passDir)
    val op = new WaveOp(0, plan.head, chunkDir, () => passDir)
    op.prepare(spark)
    op.run(spark)
    deleteTree(passDir)
  }

  /** The one-shot comparison runs on the first pass of a run; every pass
    * still checks its replay wave. */
  override def endPass(spark: SparkSession, p: Int, ops: Seq[Op]): Seq[(String, String)] = {
    val failures = if (p == 0) compareOneShot(spark, ops.last.name) else Nil
    deleteTree(passDir)
    failures
  }

  private def compareOneShot(spark: SparkSession, last: String): Seq[(String, String)] = {
    val chunks = plan.flatten.filter(_ >= 0).distinct.sorted
    val events = spark.read.schema(EventsSchema)
      .parquet(chunks.map(h => s"$chunkDir/events-%02d.parquet".formatLocal(java.util.Locale.ROOT, h)): _*)
    val blocks = chunks.map(h => spark.read.schema(SpikesSchema)
      .parquet(s"$chunkDir/spikes-%02d.parquet".formatLocal(java.util.Locale.ROOT, h))
      .select("unit", "us"))
    val expected = Seq(
      "features" -> make(events),
      "grid" -> Resample.linearGrid(events, "user_id", "ts", "value", StepMicros),
      "assignments" -> EventMatch.propagateGlobalIds(blocks, "unit", "us", DeltaUs, MinPermille),
      "summary" -> summary(events))
    expected.flatMap { case (table, oneShot) =>
      val cols = oneShot.columns.map(col)
      val want = Digest.sortedRows(oneShot.select(cols: _*).collect())
      val got = Digest.sortedRows(spark.read.parquet(s"$passDir/$table").select(cols: _*).collect())
      if (want == got) None
      else Some(last -> (s"$table differs from the one-shot batch computation " +
        s"(${got.size} rows drained, ${want.size} expected)"))
    }
  }
}

object PopulateWaves {
  val StepMicros = 10L * 1000 * 1000
  val DeltaUs = 5L
  val MinPermille = 500L
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val SpikesSchema: StructType = StructType(Seq(
    StructField("block", LongType), StructField("unit", LongType), StructField("us", LongType)))

  /** The benchmark's `make` for the populate drain: per-event features. */
  def make(batch: DataFrame): DataFrame =
    batch.select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
      floor(col("value") * 1000000).cast("long").as("value_micro"),
      expr("unix_micros(ts) div 3600000000").as("hour"))

  /** The per-hour table the benchmark appends directly each wave. */
  def summary(events: DataFrame): DataFrame =
    events.groupBy(expr("unix_micros(ts) div 3600000000").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000000).cast("long")).as("value_micro"))

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Parquet part files under `path` (recursively, skipping the staging
    * dirs appendIdempotent writes beside a table). */
  def partFiles(path: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter { f =>
          val rel = p.relativize(f)
          val name = f.getFileName.toString
          name.startsWith("part-") && name.endsWith(".parquet") &&
            !rel.toString.split('/').exists(_.startsWith("."))
        }
        .toList
      finally s.close()
    }
  }

  /** Rows held in a table, read from the parquet footers (no Spark job). */
  def tableRows(path: String): Long = partFiles(path).map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }.sum
}

/** One wave: land its chunk files (untimed), then the three drains and the
  * direct append (timed). A replay entry re-lands an earlier chunk under a
  * new file name; the wave's check requires the direct append to write
  * only the new chunks' rows, and the first pass's one-shot comparison
  * shows the drains appended none of the replayed rows either. */
final class WaveOp(index: Int, entries: Seq[Int], chunkDir: String,
                   passDir: () => String) extends Op {
  import PopulateWaves._

  val name: String = s"wave$index" + entries.filter(_ < 0).map(c => s"+replay${-c - 1}").mkString
  private var landedNew = Seq.empty[String]
  private var landedAll = Seq.empty[String]

  private def d(sub: String) = s"${passDir()}/$sub"

  override def prepare(spark: SparkSession): Unit = {
    val landed = entries.map { c =>
      val (chunk, suffix) = if (c < 0) (-c - 1, s"-replay$index") else (c, "")
      def land(kind: String): String = {
        val src = Paths.get(chunkDir, "%s-%02d.parquet".formatLocal(java.util.Locale.ROOT, kind, chunk))
        val dst = Paths.get(d(s"bronze/$kind"),
          "%s-%02d%s.parquet".formatLocal(java.util.Locale.ROOT, kind, chunk, suffix))
        Files.createDirectories(dst.getParent)
        Files.copy(src, dst)
        dst.toString
      }
      land("spikes")
      (land("events"), c >= 0)
    }
    landedAll = landed.map(_._1)
    landedNew = landed.filter(_._2).map(_._1)
  }

  private def drainPopulate(spark: SparkSession): Unit =
    IncrementalPopulate.drain(spark, d("bronze/events"), d("features"), d("ckpt/populate"),
      Seq("event_id"), EventsSchema)(make)

  private def drainResample(spark: SparkSession): Unit =
    StreamingResample.drain(spark, d("bronze/events"), d("grid"), d("resample_state"),
      d("ckpt/resample"), "user_id", "ts", "value", EventsSchema, StepMicros)

  private def drainUnitMatch(spark: SparkSession): Unit =
    StreamingUnitMatch.drain(spark, d("bronze/spikes"), d("trains"), d("assignments"),
      d("ckpt/unitmatch"), "block", "unit", "us", SpikesSchema, DeltaUs, MinPermille)

  private def events(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(EventsSchema).parquet(files: _*)

  /** Rows the direct append wrote. */
  private def append(spark: SparkSession): Long =
    Populate.appendIdempotent(summary(events(spark, landedAll)), d("summary"),
      Seq("hour", "event_type"))

  def run(spark: SparkSession): Any = {
    drainPopulate(spark)
    drainResample(spark)
    drainUnitMatch(spark)
    append(spark)
  }

  def check(spark: SparkSession, out: Any): Option[String] = {
    val appended = out.asInstanceOf[Long]
    val expected = summary(events(spark, landedNew)).count()
    if (appended == expected) None
    else Some(s"$name: the direct append wrote $appended rows, expected $expected " +
      "(the new chunks' rows only)")
  }

  /** Per drain: rows already in the tables it appends to (the append-only
    * state a wave re-reads) and the part files the drain added. */
  def traced(spark: SparkSession, t: Tracer): Any = {
    t.scan("chunk")(QueryWorkloads.noop(events(spark, landedAll)))
    def traceDrain(name: String, tables: Seq[String])(body: => Unit): Unit = {
      val stateRows = tables.map(x => tableRows(d(x))).sum
      val files0 = tables.map(x => partFiles(d(x)).size).sum
      val s = t.open(s"streaming.drain:$name", "streaming")
      try body finally t.close(s)
      s.counts("state_rows") = stateRows.toDouble
      s.counts("files_written") = (tables.map(x => partFiles(d(x)).size).sum - files0).toDouble
    }
    traceDrain("populate", Seq("features"))(drainPopulate(spark))
    traceDrain("resample", Seq("grid", "resample_state"))(drainResample(spark))
    traceDrain("unitmatch", Seq("trains", "assignments"))(drainUnitMatch(spark))
    val files0 = partFiles(d("summary")).size
    val s = t.open("populate.append", "populate")
    val appended = try append(spark) finally t.close(s)
    s.counts("rows_appended") = appended.toDouble
    s.counts("files_written") = (partFiles(d("summary")).size - files0).toDouble
    appended
  }
}
