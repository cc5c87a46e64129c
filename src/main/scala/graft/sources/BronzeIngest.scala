package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{StatsFunctions, TimeFunctions}

/** Bronze ingest: raw chunk files → DataFrames/Parquet (SURVEY.md §2.1
  * S2–S6, §7.1).
  *
  * The reference reads per-chunk files with Reader classes
  * (`aeon/schema/ephys.py:12-101`) inside a per-key `make()` loop; here each
  * reader family is one distributed scan:
  *
  *  - flat binaries (`np.fromfile(dtype).reshape(-1, n)`,
  *    `aeon/schema/ephys.py:12-23`) → the `graft-clock` V2 scan
  *    ([[ClockBinarySource]], the one decoder of the family). No driver-side
  *    loops: one task per file group, rows stream out of a ByteBuffer.
  *  - HarpSync CSV (`aeon/schema/ephys.py:26-33`) → `spark.read.csv` with an
  *    explicit schema + HARP-seconds → timestamp promotion.
  *  - per-file sync-model regression (`aeon/schema/ephys.py:35-71`
  *    `HarpSyncModel.read` — one summary row per file) → groupBy(file) with
  *    the regression aggregate; the model is a struct, never a pickle.
  *  - chunk/epoch discovery from file paths (`acquisition.py:603-622`,
  *    `:210-306`) → `input_file_name` parsing + lead-window closure.
  *
  * At 100 TB the ingest writes Parquet partitioned by
  * `(experiment, device, stream, chunk_start)` so every downstream read is a
  * pruned scan (the codec-decode of the reference becomes partition
  * pruning — SURVEY.md §1.1).
  */
object BronzeIngest {

  /** Flat float32 binary (`np.fromfile(dtype="<f4").reshape(-1, n)`,
    * reference `aeon/schema/ephys.py:12-23` Binary reader): one row per
    * sample, columns as named. Little-endian, as numpy defaults.
    *
    * Delegates to the `graft-clock` V2 source (`format=f32`) so Catalyst
    * sees a real scan — column pruning reaches the decode, and a
    * `clockDir` companion adds a pushed-down `clock` column
    * ([[ClockBinarySource]]).
    */
  def flatBinaryF32(spark: SparkSession, pathGlob: String,
                    colNames: Seq[String],
                    clockDir: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft-clock")
      .option("format", "f32").option("cols", colNames.mkString(","))
    clockDir.fold(r)(d => r.option("clock", d)).load(pathGlob)
  }

  /** Flat uint64 binary (ONIX Clock, `aeon/schema/ephys.py:74-76`): ticks as
    * LongType (reference range stays below 2^63). Loads the `graft-clock`
    * V2 source (`format=u64`); `colName` renames its `clock` column.
    */
  def flatBinaryU64(spark: SparkSession, pathGlob: String,
                    colName: String = "clock"): DataFrame =
    u64(spark, Seq(pathGlob), colName)

  private def u64(spark: SparkSession, paths: Seq[String], colName: String): DataFrame =
    clockAs(spark.read.format("graft-clock").option("format", "u64").load(paths: _*),
      colName)

  private def clockAs(df: DataFrame, colName: String): DataFrame =
    if (colName == "clock") df else df.withColumnRenamed("clock", colName)

  /** Flat uint16 binary reshaped to n channels (AmplifierData,
    * `aeon/dj_pipeline/spike_sorting.py:266-290`): per-sample array column +
    * optional gain/offset µV conversion (`:209-211`).
    *
    * Delegates to the `graft-clock` V2 source (`format=u16`); a `clockDir`
    * companion adds a `clock` column with file-skip pushdown, so an ephys
    * interval read touches only overlapping chunk files
    * ([[ClockBinarySource]]).
    */
  def flatBinaryU16(spark: SparkSession, pathGlob: String, nChannels: Int,
                    gain: Double = 1.0, offset: Double = 0.0,
                    clockDir: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft-clock")
      .option("format", "u16").option("channels", nChannels.toString)
      .option("gain", gain.toString).option("offset", offset.toString)
    clockDir.fold(r)(d => r.option("clock", d)).load(pathGlob)
  }

  /** Per-file clock stats from O(1) reads — the distributed form of the
    * reference's metadata-only interval check (`onix_imu.py:112-130` reads
    * just the first and last uint64 of each Clock file to decide chunk
    * membership, never decoding the payload). Output one row per file:
    * `(file, n_rows, clock_min, clock_max)`.
    *
    * Cost model at 100 TB: the listing is metadata-only (a `binaryFile` scan
    * WITHOUT the content column — `BinaryFileFormat` materializes content
    * lazily, so unselected content is never fetched), and each file costs two
    * positioned 8-byte reads, distributed across tasks. Persist the result
    * next to the data and pruning becomes a catalog lookup.
    */
  def clockFileStats(spark: SparkSession, pathGlob: String): DataFrame = {
    val listing = spark.read.format("binaryFile")
      .load(Globs.expand(spark, pathGlob): _*)
      .select(col("path"), col("length"))
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("clock_min", LongType, nullable = true),
      StructField("clock_max", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(schema)
    listing.mapPartitions { rows =>
      rows.map { r =>
        val pathStr = r.getString(0)
        val n = r.getLong(1) / 8
        if (n == 0) Row(pathStr, 0L, null, null)
        else {
          val (first, last) = ClockFormat.readFirstLast(
            new org.apache.hadoop.fs.Path(pathStr), n, conf.value)
          // clock files are written monotonically; min/max guards misorder
          Row(pathStr, n, math.min(first, last), math.max(first, last))
        }
      }
    }(enc)
  }

  /** Clock-range decode with per-file pruning (S4/S10 interval reads): files
    * whose `[clock_min, clock_max]` misses `[lo, hi]` are dropped on stats
    * alone — two 8-byte reads, NEVER a decode — and only survivors load
    * through `graft-clock`. `sliceRows=false` keeps survivors whole (the
    * reference's load-qualifying-chunks shape); `true` adds the exact row
    * predicate for sub-file boundaries. No survivor gives an empty frame
    * with the `(file, row_index, <colName>)` schema.
    *
    * The surviving path list rides through the driver — file-index-scale
    * metadata, the same class of touch as any catalog-driven scan.
    */
  def flatBinaryU64Range(spark: SparkSession, pathGlob: String,
                         lo: Long, hi: Long, colName: String = "clock",
                         sliceRows: Boolean = true): DataFrame = {
    val keep = clockFileStats(spark, pathGlob)
      .filter(col("clock_max") >= lo && col("clock_min") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq
    val decoded =
      if (keep.isEmpty) clockAs(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), ClockBinarySource.Schema), colName)
      else u64(spark, keep, colName)
    if (sliceRows) decoded.filter(col(colName).between(lo, hi)) else decoded
  }

  /** HarpSync CSV (`aeon/schema/ephys.py:26-33`; shape
    * FIXTURES.md §1.1): `aeon_time` (HARP s) promoted to a µs timestamp
    * `time`; payload `clock, hub_clock, harp_time`.
    */
  def harpSyncCsv(spark: SparkSession, pathGlob: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("aeon_time", DoubleType), StructField("clock", LongType),
      StructField("hub_clock", LongType), StructField("harp_time", DoubleType)))
    spark.read.schema(schema).option("header", "true")
      .csv(Globs.expand(spark, pathGlob): _*)
      .withColumn("file", input_file_name())
      .withColumn("time", TimeFunctions.harpToTimestamp(col("aeon_time")))
  }

  /** Per-file sync model (S5 reader-with-model, `aeon/schema/ephys.py:35-71`
    * `HarpSyncModel.read`): ONE summary row per HarpSync file —
    * `(clock_start, clock_end, harp_start, harp_end, n_samples, model)` where
    * model = OLS(harp_time ~ clock) as a `(slope, intercept, r2, n)` struct.
    */
  def syncModels(harpSync: DataFrame): DataFrame =
    harpSync.filter(col("clock").isNotNull && col("harp_time").isNotNull)
      .groupBy(col("file"))
      .agg(
        min(col("clock")).as("clock_start"),
        max(col("clock")).as("clock_end"),
        min(col("harp_time")).as("harp_start"),
        max(col("harp_time")).as("harp_end"),
        count(lit(1)).as("n_samples"),
        StatsFunctions.regression(col("harp_time"), col("clock").cast("double"))
          .as("model"))

  /** Bno055 stream-group merge (S6/J8, `aeon/schema/ephys.py:79-101`,
    * `aeon/dj_pipeline/utils/onix_imu.py:33-86`): one clock binary + four
    * sensor binaries per chunk index, aligned by row position within the
    * chunk, prefix-renamed to the 13 fixed IMU columns, ONIX clock as index.
    *
    * Join key = (chunk_index extracted from the filename, row_index) — the
    * positional `pd.concat(axis=1)` of the reference as an equi-join, which
    * shuffles on a compact key and scales with file count × rows.
    */
  def imuMerge(clock: DataFrame, euler: DataFrame, gravity: DataFrame,
               linearAccel: DataFrame, quaternion: DataFrame): DataFrame = {
    def keyed(df: DataFrame, prefix: String, cols: Seq[String]): DataFrame = {
      val renamed = cols.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${prefix}_$c"))
      renamed
        .withColumn("chunk_index",
          regexp_extract(col("file"), "_(\\d+)\\.bin$", 1).cast("long"))
        .drop("file")
    }
    val c = keyed(clock, "", Seq.empty).withColumnRenamed("_clock", "clock")
    val e = keyed(euler, "euler", Seq("x", "y", "z"))
    val g = keyed(gravity, "gravity", Seq("x", "y", "z"))
    val l = keyed(linearAccel, "linear_acceleration", Seq("x", "y", "z"))
    val q = keyed(quaternion, "quaternion", Seq("w", "x", "y", "z"))
    val key = Seq("chunk_index", "row_index")
    c.join(e, key).join(g, key).join(l, key).join(q, key)
      .drop("row_index")
  }

  /** Chunk-file discovery (S2, `acquisition.py:603-622` `_get_all_chunks`):
    * enumerate chunk files under a root via a lightweight listing scan (no
    * content read), parse `(device, stream, chunk_ts)` from filenames of the
    * form `<Device>_<Stream>_<yyyy-MM-dd'T'HH-mm-ss>.<ext>` and the epoch dir
    * from the path (FIXTURES.md §1 layout).
    */
  def discoverChunkFiles(spark: SparkSession, rootGlob: String): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.*")
      .load(Globs.expand(spark, rootGlob): _*)
      .select(col("path"), col("length"), col("modificationTime"))
    files
      .withColumn("file_name", element_at(split(col("path"), "/"), -1))
      .withColumn("epoch_dir", element_at(split(col("path"), "/"), -3))
      .withColumn("device", regexp_extract(col("file_name"), "^([^_]+)_", 1))
      .withColumn("stream",
        regexp_extract(col("file_name"), "^[^_]+_([A-Za-z0-9]+)_", 1))
      .withColumn("chunk_start",
        TimeFunctions.parseEpochDirName(
          regexp_extract(col("file_name"), "_([0-9T\\-Z]+)\\.[a-z]+$", 1)))
      .withColumn("epoch_start", TimeFunctions.parseEpochDirName(col("epoch_dir")))
  }

  /** Epoch ingestion with look-back closure (W6, `acquisition.py:210-316`):
    * one row per epoch directory; `epoch_end = lead(epoch_start)` (the next
    * epoch's start closes this one), optionally capped by a hard end. The
    * reference mutates the previous row on insert; here the closure is a
    * window recompute — derive, don't update (SURVEY.md §7.5.1).
    */
  def epochsWithClosure(epochStarts: DataFrame,
                        experimentCol: String = "experiment",
                        startCol: String = "epoch_start"): DataFrame = {
    val w = Window.partitionBy(col(experimentCol)).orderBy(col(startCol))
    epochStarts
      .withColumn("epoch_end", lead(col(startCol), 1).over(w))
      .withColumn("epoch_duration_s",
        (unix_micros(col("epoch_end")) - unix_micros(col(startCol)))
          .cast("double") / 1e6)
  }

  /** Chunk table for an epoch range (`acquisition.py:500-511`): all 1-hour
    * chunk starts covering `[epoch_start, epoch_end)`, with the final
    * chunk_end capped at epoch_end. Uses `sequence` + `explode` — set-at-a-
    * time, no driver loop.
    */
  def chunksForEpochs(epochs: DataFrame): DataFrame =
    epochs
      .filter(col("epoch_end").isNotNull)
      .withColumn("chunk_start",
        explode(sequence(
          date_trunc("hour", col("epoch_start")),
          col("epoch_end") - expr("INTERVAL 1 MICROSECOND"),
          expr("INTERVAL 1 HOUR"))))
      .withColumn("chunk_end",
        least(col("chunk_start") + expr("INTERVAL 1 HOUR"), col("epoch_end")))
      .withColumn("chunk_start", greatest(col("chunk_start"), col("epoch_start")))
}
