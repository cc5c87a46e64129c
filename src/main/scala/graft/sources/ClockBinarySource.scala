package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the flat binary family (S4/S10 as a REAL source, not a
  * reader function): `spark.read.format("graft-clock")` over the
  * acquisition's raw formats, with
  *
  *  - **filter pushdown on `clock`**: range/equality predicates reach the
  *    scan (visible as `PushedFilters` in `.explain`) and each file is
  *    admitted or skipped on a first/last uint64 alone — two positioned
  *    8-byte reads, the distributed form of the reference's O(1) interval
  *    check (`aeon/dj_pipeline/utils/onix_imu.py:112-130`) — before any
  *    decode. Pushed filters are also re-applied by Spark row-wise
  *    (returned as residuals), so for files honoring the format contract
  *    pushdown changes IO only, never results.
  *  - **column pruning**: unprojected columns are never materialized; a scan
  *    needing no data-dependent column never opens the file at all.
  *
  * Formats (the `format` option):
  *  - `u64` (default): ONIX Clock ticks (`aeon/schema/ephys.py:74-76`) —
  *    schema `(file, row_index, clock)`. The payload IS the clock, so
  *    pushdown bounds come from the file itself.
  *  - `f32` with `cols=x,y,z`: n-column float32 samples
  *    (`aeon/schema/ephys.py:12-23`) — schema `(file, row_index[, clock],
  *    <cols>)`.
  *  - `u16` with `channels=N` and optional `gain`/`offset`: n-channel
  *    amplifier samples scaled to µV
  *    (`aeon/dj_pipeline/spike_sorting.py:266-290, 209-211`) — schema
  *    `(file, row_index[, clock], samples: array<double>)`.
  *
  * Payload formats gain the SAME clock-range pushdown through a COMPANION
  * clock file (the `clock` option names its directory): payload file
  * `<dir>/X.bin` pairs with clock file `<clockDir>/X.bin`, row i of the
  * payload stamped with uint64 i of the companion — the acquisition's
  * convention of writing one Clock stream per device directory. The skip
  * check reads the companion's 16 stat bytes; a row-count mismatch between
  * the pair fails loudly rather than misaligning.
  *
  * Multi-path loads (`load(p1, p2, ...)` — Spark passes a JSON `paths`
  * property) are supported; directories expand RECURSIVELY to their files,
  * and a path that matches nothing fails the scan ([[Packing.listFiles]]).
  *
  * Planning lists files (metadata only); all IO — the 16 stat bytes and any
  * decode — happens in executors, files packed into byte-budgeted tasks.
  * This is the one decoder of the flat binary family: the reader functions
  * [[BronzeIngest.flatBinaryU64]], [[BronzeIngest.flatBinaryU64Range]],
  * [[BronzeIngest.flatBinaryF32]] and [[BronzeIngest.flatBinaryU16]] are
  * calls into it. Queries compose with plain `filter`, and Catalyst sees a
  * scan it can reason about.
  */
class ClockBinarySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-clock"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FlatBinaryOptions(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ClockBinaryTable(FlatBinaryOptions(properties))
}

object ClockBinarySource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false),
    StructField("clock", LongType, nullable = false)))
}

/** Parsed, serializable read options — one object carries the format
  * contract from planning into every partition reader.
  */
private[sources] case class FlatBinaryOptions(
    paths: Seq[String], format: String, cols: Seq[String],
    channels: Int, gain: Double, offset: Double,
    clockDir: Option[String],
    maxPartitionBytes: Long = Packing.DefaultMaxPartitionBytes) {

  val rowSize: Int = format match {
    case "u64" => 8
    case "f32" => 4 * cols.length
    case "u16" => 2 * channels
  }

  /** True when the scan has a clock column to push range filters into. */
  val hasClock: Boolean = format == "u64" || clockDir.isDefined

  def schema: StructType = {
    val base = Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_index", LongType, nullable = false))
    val clock =
      if (hasClock) Seq(StructField("clock", LongType, nullable = false)) else Nil
    val payload = format match {
      case "u64" => Nil // the clock column IS the payload
      case "f32" => cols.map(StructField(_, FloatType, nullable = false))
      case "u16" => Seq(StructField("samples",
        ArrayType(DoubleType, containsNull = false), nullable = false))
    }
    StructType(base ++ clock ++ payload)
  }

  def clockPathFor(payload: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(clockDir.get, payload.getName)
}

private[sources] object FlatBinaryOptions {
  def apply(properties: JMap[String, String]): FlatBinaryOptions = {
    def opt(k: String): Option[String] =
      Option(properties.get(k)).filter(_.nonEmpty)
    val paths = Packing.loadPaths(properties, "graft-clock")
    val format = opt("format").getOrElse("u64")
    require(Set("u64", "f32", "u16").contains(format),
      s"graft-clock format must be u64, f32, or u16 (got '$format')")
    val cols = opt("cols").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    if (format == "f32") {
      require(cols.nonEmpty, "graft-clock format=f32 requires cols=<name,...>")
      val reserved = Set("file", "row_index", "clock", "samples")
      require(!cols.exists(reserved), s"f32 cols may not shadow $reserved")
    }
    val channels = opt("channels").map(_.toInt).getOrElse(0)
    if (format == "u16")
      require(channels > 0, "graft-clock format=u16 requires channels=<n>")
    FlatBinaryOptions(
      paths = paths, format = format, cols = cols, channels = channels,
      gain = opt("gain").map(_.toDouble).getOrElse(1.0),
      offset = opt("offset").map(_.toDouble).getOrElse(0.0),
      clockDir = if (format == "u64") None else opt("clock"),
      maxPartitionBytes = Packing.maxPartitionBytes(opt("maxPartitionBytes")))
  }
}

private[sources] class ClockBinaryTable(opts: FlatBinaryOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft-clock(${opts.paths.mkString(",")})"
  override def schema(): StructType = opts.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ClockScanBuilder(opts)
}

/** Per-file aggregate codes for pushed-down min/max/count — each computed
  * from the clock stream's 16 stat bytes (or the file length alone), never
  * a decode.
  */
private[sources] object AggCode {
  val MinClock = 0; val MaxClock = 1; val CountRows = 2
}

private[sources] class ClockScanBuilder(opts: FlatBinaryOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = opts.schema
  private var accepted: Array[Filter] = Array.empty
  private var aggCodes: Option[Array[Int]] = None
  private var pushedAggDesc: Seq[String] = Nil
  private var lo: Long = Long.MinValue
  private var hi: Long = Long.MaxValue

  /** Tighten [lo, hi] from a filter; true when the filter constrains only
    * the clock column (and therefore contributed to the file-skip bounds).
    */
  private def absorb(f: Filter): Boolean = f match {
    case GreaterThan("clock", v: Long) =>
      if (v != Long.MaxValue) lo = math.max(lo, v + 1); true
    case GreaterThanOrEqual("clock", v: Long) => lo = math.max(lo, v); true
    case LessThan("clock", v: Long) =>
      if (v != Long.MinValue) hi = math.min(hi, v - 1); true
    case LessThanOrEqual("clock", v: Long) => hi = math.min(hi, v); true
    case EqualTo("clock", v: Long) => lo = math.max(lo, v); hi = math.min(hi, v); true
    case And(l, r) =>
      val la = absorb(l); val ra = absorb(r); la && ra
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = if (opts.hasClock) filters.filter(absorb) else Array.empty
    filters // everything stays residual: Spark re-applies exact row predicates
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** MIN/MAX(clock) and COUNT answer from per-file stats: the format
    * contract (first/last bound every value — [[ClockFormat]]) makes the 16
    * stat bytes the whole computation, the exact semantics parquet footer
    * stats give its aggregate pushdown (`onix_imu.py:112-130` is this check
    * in the reference). PARTIAL pushdown: each file partition emits one
    * stats row; Spark's final aggregate merges them — which is why this
    * composes with any number of files. Spark only offers aggregates when
    * no residual filters remain, and every filter here stays residual, so
    * pushed aggregates and pushed row filters never mix (same as parquet).
    */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    def isClock(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.sameElements(Array("clock"))
        case _ => false
      }
    if (aggregation.groupByExpressions.nonEmpty) return false
    val exprs = aggregation.aggregateExpressions
    val codes = exprs.flatMap {
      case _: CountStar => Some(AggCode.CountRows)
      case m: Min if opts.hasClock && isClock(m.column) => Some(AggCode.MinClock)
      case m: Max if opts.hasClock && isClock(m.column) => Some(AggCode.MaxClock)
      // clock is non-nullable, so COUNT(clock) == COUNT(*)
      case c: Count if !c.isDistinct && isClock(c.column) => Some(AggCode.CountRows)
      case _ => None
    }
    if (codes.length != exprs.length) false
    else {
      aggCodes = Some(codes)
      pushedAggDesc = exprs.map(_.describe).toSeq
      true
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    // With a pushed aggregation the scan's output IS the per-file partial
    // aggregate row — Spark maps scan columns to the rewritten final
    // aggregate positionally, so the schema must be one (nullable for
    // min/max: empty files) long per aggregate, not the row schema.
    val schema = aggCodes match {
      case Some(codes) => StructType(codes.zip(pushedAggDesc).map { case (c, d) =>
        StructField(d, LongType, nullable = c != AggCode.CountRows) })
      case None => required
    }
    new ClockScan(opts, schema, accepted, lo, hi, aggCodes, pushedAggDesc)
  }
}

private[sources] class ClockScan(opts: FlatBinaryOptions, required: StructType,
                                 pushed: Array[Filter], lo: Long, hi: Long,
                                 aggCodes: Option[Array[Int]] = None,
                                 aggDesc: Seq[String] = Nil)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-clock(${opts.paths.mkString(",")}) clockRange=[$lo,$hi] " +
      s"PushedFilters: [${pushed.mkString(", ")}] " +
      s"PushedAggregates: [${aggDesc.mkString(", ")}]"

  // metadata-only listing, once per scan: the size estimate and the
  // partition plan read the same files; every byte of file IO happens in
  // executors
  private lazy val listed = Packing.listFiles(opts.paths,
    SparkSession.active.sparkContext.hadoopConfiguration)

  /** The listed file bytes, the size Spark's own file sources report: join
    * planning broadcasts a small clock stream instead of shuffling it. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(listed.map(_.getLen).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = listed.map { st =>
      require(st.getLen < Int.MaxValue.toLong,
        s"graft-clock file ${st.getPath} is ${st.getLen} bytes; the format " +
          "contract caps files below 2 GiB (hour-sized chunks)")
      (ClockFilePartition(st.getPath.toString, st.getLen), st.getLen)
    }
    // small files pack into byte-budgeted partitions (see [[Packing]]);
    // per-file clock-range skipping is unchanged inside each partition
    Packing.pack(files, opts.maxPartitionBytes)
      .map(fs => ClockFilesPartition(fs): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)
    aggCodes match {
      case Some(codes) => new ClockAggReaderFactory(opts, codes, conf)
      case None => new ClockReaderFactory(opts, required.fieldNames, lo, hi, conf)
    }
  }
}

private[sources] case class ClockFilePartition(path: String, length: Long)

/** A byte-budgeted pack of files ([[Packing]]); read one file at a time. */
private[sources] case class ClockFilesPartition(files: Seq[ClockFilePartition])
    extends InputPartition

private[sources] class ClockReaderFactory(
    opts: FlatBinaryOptions, requiredCols: Array[String], lo: Long, hi: Long,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ClockFilesPartition]
    new PackedPartitionReader[ClockFilePartition](part.files.iterator,
      f => new ClockPartitionReader(f, opts, requiredCols, lo, hi, conf))
  }
}

/** Aggregate-pushdown reader: ONE partial-stats row per file, computed from
  * the clock stream's first/last uint64 (16 bytes) and the file length —
  * no payload byte is ever decoded. Spark's final aggregate merges the
  * per-file partials. Empty files contribute (null, null, 0), the standard
  * partial-aggregate identity.
  */
private[sources] class ClockAggReaderFactory(
    opts: FlatBinaryOptions, codes: Array[Int],
    conf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val packed = partition.asInstanceOf[ClockFilesPartition]
    new PackedPartitionReader[ClockFilePartition](packed.files.iterator, fileReader)
  }

  /** One partial-stats row for one file. */
  private def fileReader(part: ClockFilePartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val path = new org.apache.hadoop.fs.Path(part.path)
        val nRows = part.length / opts.rowSize
        val bounds: Option[(Long, Long)] =
          if (nRows == 0 || !codes.exists(c => c != AggCode.CountRows)) None
          else {
            val (cPath, cRows) = opts.format match {
              case "u64" => (path, nRows)
              case _ =>
                val cp = opts.clockPathFor(path)
                val cr = cp.getFileSystem(conf.value).getFileStatus(cp).getLen / 8
                require(cr == nRows,
                  s"companion clock $cp has $cr rows but ${part.path} has $nRows")
                (cp, cr)
            }
            val (first, last) = ClockFormat.readFirstLast(cPath, cRows, conf.value)
            Some((math.min(first, last), math.max(first, last)))
          }
        val values: Array[Any] = codes.map {
          case AggCode.CountRows => nRows: Any
          case AggCode.MinClock  => bounds.map(_._1: Any).orNull
          case AggCode.MaxClock  => bounds.map(_._2: Any).orNull
        }
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
  }
}

/** One file per partition. If the scan carries clock bounds, the reader
  * first checks the clock stream's first/last uint64 (two 8-byte positioned
  * reads — the file's own bytes for u64, the companion clock file for
  * payload formats); a disjoint file is skipped without decoding a single
  * payload byte. A scan requiring no data-dependent column (file/row_index
  * only) never opens the file at all.
  */
private[sources] class ClockPartitionReader(
    part: ClockFilePartition, opts: FlatBinaryOptions,
    requiredCols: Array[String], lo: Long, hi: Long,
    conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val nRows = part.length / opts.rowSize
  private val fileUtf8 = UTF8String.fromString(part.path)
  private val hadoopPath = new org.apache.hadoop.fs.Path(part.path)
  // resolve column extraction to ordinals ONCE — get() is the per-row hot
  // path and must not string-match names or allocate intermediates.
  // Codes: 0 file, 1 row_index, 2 clock, 3 samples (u16), 10+c f32 col c.
  private val FileCol = 0; private val RowIndexCol = 1; private val ClockCol = 2
  private val SamplesCol = 3; private val F32Base = 10
  private val colCodes: Array[Int] = requiredCols.map {
    case "file" => FileCol
    case "row_index" => RowIndexCol
    case "clock" => ClockCol
    case "samples" => SamplesCol
    case name => F32Base + opts.cols.indexOf(name)
  }
  private val needsPayload = colCodes.exists(c => c == SamplesCol || c >= F32Base) ||
    (opts.format == "u64" && colCodes.contains(ClockCol))
  private val needsCompanionClock =
    opts.format != "u64" && colCodes.contains(ClockCol)

  private var data: ByteBuffer = _      // payload bytes (u64: also the clock)
  private var clockData: ByteBuffer = _ // companion clock bytes
  private var idx: Long = -1
  private var exhausted = nRows == 0
  private var loaded = false
  // one reusable row per reader — downstream copies (unsafe projection)
  // before buffering, the standard DSv2 reader pattern
  private val values = new Array[Any](colCodes.length)
  private val row = new GenericInternalRow(values)

  /** The clock stream backing this partition's skip check: the file itself
    * for u64, the companion clock file otherwise. Row counts of a
    * payload/companion pair must agree — misalignment fails loudly.
    */
  private def clockStream(): Option[(org.apache.hadoop.fs.Path, Long)] =
    opts.format match {
      case "u64" => Some((hadoopPath, nRows))
      case _ => opts.clockDir.map { _ =>
        val cPath = opts.clockPathFor(hadoopPath)
        val cRows = cPath.getFileSystem(conf.value).getFileStatus(cPath).getLen / 8
        require(cRows == nRows,
          s"companion clock $cPath has $cRows rows but ${part.path} has $nRows")
        (cPath, cRows)
      }
    }

  private def overlaps(): Boolean = {
    if (lo == Long.MinValue && hi == Long.MaxValue) return true
    clockStream() match {
      case Some((cPath, cRows)) if cRows > 0 =>
        val (first, last) = ClockFormat.readFirstLast(cPath, cRows, conf.value)
        math.max(first, last) >= lo && math.min(first, last) <= hi
      case _ => true
    }
  }

  private def readAll(path: org.apache.hadoop.fs.Path, len: Long): ByteBuffer = {
    val in = path.getFileSystem(conf.value).open(path)
    try {
      val bytes = new Array[Byte](len.toInt)
      in.readFully(0L, bytes)
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    } finally in.close()
  }

  private def load(): Unit = {
    loaded = true
    if (!overlaps()) { exhausted = true; return }
    if (needsPayload) data = readAll(hadoopPath, part.length)
    if (needsCompanionClock) {
      val (cPath, cRows) = clockStream().get
      clockData = readAll(cPath, cRows * 8)
    }
  }

  override def next(): Boolean = {
    if (exhausted) return false
    if (!loaded) load()
    if (exhausted) return false
    idx += 1
    idx < nRows
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < colCodes.length) {
      val code = colCodes(i)
      values(i) = code match {
        case FileCol     => fileUtf8
        case RowIndexCol => idx
        case ClockCol    =>
          if (opts.format == "u64") data.getLong((idx * 8).toInt)
          else clockData.getLong((idx * 8).toInt)
        case SamplesCol  =>
          val base = idx * opts.channels
          new GenericArrayData(Array.tabulate(opts.channels) { c =>
            (data.getShort(((base + c) * 2).toInt) & 0xFFFF) * opts.gain + opts.offset
          })
        case _           =>
          data.getFloat(((idx * opts.cols.length + (code - F32Base)) * 4).toInt)
      }
      i += 1
    }
    row
  }

  override def close(): Unit = { data = null; clockData = null }
}

/** The clock-binary FORMAT contract in one place: little-endian uint64
  * samples, written monotonically, so the first and last value bound every
  * value in the file — the basis of every O(1) interval check (both the V2
  * reader's skip and [[BronzeIngest.clockFileStats]]).
  *
  * Signedness: clocks are decoded and compared as SIGNED Java longs, so
  * values must fit in int64 — true for every acquisition system in the
  * reference (ONIX ticks start near zero at device boot; 2⁶³ ticks is
  * thousands of years at any real rate). A hypothetical file crossing 2⁶³
  * would wrap negative and break the first/last bound check; supporting it
  * would mean `Long.compareUnsigned` here AND unsigned filter semantics in
  * the SQL layer, which Spark's LongType cannot express.
  */
private[sources] object ClockFormat {
  /** Positioned reads of the first and last uint64 (two 8-byte reads). */
  def readFirstLast(path: org.apache.hadoop.fs.Path, nRows: Long,
                    conf: org.apache.hadoop.conf.Configuration): (Long, Long) = {
    val in = path.getFileSystem(conf).open(path)
    try {
      val buf = new Array[Byte](8)
      in.readFully(0L, buf)
      val first = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong
      in.readFully((nRows - 1) * 8, buf)
      val last = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong
      (first, last)
    } finally in.close()
  }
}
