package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for MJPEG-AVI frame extraction — `format("graft-avi")`.
  *
  * The one AVI file reader: [[AviMjpeg.videoFrames]] is a call into this
  * source. A real scan Catalyst can reason about, with the pruning that
  * matters for video:
  *
  *  - **column pruning reaches the payload**: a query that does not select
  *    `frame_jpeg` (fps audits, frame counts, drop detection — the CameraQC
  *    family) walks ONLY 8-byte RIFF chunk headers; no frame byte is ever
  *    read, let alone decoded. `.explain` shows the pruned read schema.
  *  - files pack into byte-budgeted tasks ([[Packing]]); each is opened as
  *    a Hadoop FS stream in its task, one at a time — a container is never
  *    materialized whole; memory is bounded by one frame (or by nothing at
  *    all when the payload column is pruned).
  *  - `everyNth` / `maxFrames` options bound the output per file.
  *  - **`frame_index` upper bounds push into the walk**: a
  *    `frame_index <= N` predicate becomes the walker's stop condition, so
  *    a head slice of an hour-long recording costs N+1 chunk headers of IO
  *    instead of a full-container walk. `.explain` shows the pushed bound.
  *
  * Options: `everyNth` (sample stride, default 1), `maxFrames` (per-file
  * cap, default 64), `maxPartitionBytes`. Multi-path loads, recursive
  * directory expansion and the failure on a path that matches nothing are
  * `graft-clock`'s ([[Packing.listFiles]]).
  *
  * Reference analogue: `aeon/dj_pipeline/utils/video.py:29-62`
  * (`retrieve_video_frames`) — the slice-of-frames read, as a declarative
  * scan instead of a per-call OpenCV loop.
  */
class AviFrameSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avi"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AviMjpeg.frameSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new AviFrameTable(AviFrameOptions(properties))
}

private[sources] final case class AviFrameOptions(
    paths: Seq[String], everyNth: Int, maxFrames: Int,
    maxPartitionBytes: Long = Packing.DefaultMaxPartitionBytes)

private[sources] object AviFrameOptions {
  def apply(properties: JMap[String, String]): AviFrameOptions = {
    def opt(k: String): Option[String] =
      Option(properties.get(k)).filter(_.nonEmpty)
    val paths = Packing.loadPaths(properties, "graft-avi")
    val everyNth = opt("everyNth").map(_.toInt).getOrElse(1)
    val maxFrames = opt("maxFrames").map(_.toInt).getOrElse(64)
    require(everyNth > 0 && maxFrames > 0,
      s"graft-avi everyNth/maxFrames must be positive (got $everyNth/$maxFrames)")
    AviFrameOptions(paths, everyNth, maxFrames,
      Packing.maxPartitionBytes(opt("maxPartitionBytes")))
  }
}

private[sources] class AviFrameTable(opts: AviFrameOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft-avi(${opts.paths.mkString(",")})"
  override def schema(): StructType = AviMjpeg.frameSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AviScanBuilder(opts)
}

private[sources] class AviScanBuilder(opts: AviFrameOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = AviMjpeg.frameSchema
  private var maxIndex: Long = Long.MaxValue
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Upper bounds on `frame_index` become the walker's STOP condition: a
    * `frame_index <= N` slice of an hour-long recording reads N+1 chunk
    * headers instead of walking the whole container. The bound is an
    * early-stop, not an exact evaluation (strides/equality still need the
    * row-level check), so every filter is also returned as a residual for
    * Spark to re-apply — absorbing it can only skip IO, never change rows.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    pushed = filters.filter {
      case sources.LessThan("frame_index", v) =>
        longOf(v).exists { l => maxIndex = math.min(maxIndex, l - 1); true }
      case sources.LessThanOrEqual("frame_index", v) =>
        longOf(v).exists { l => maxIndex = math.min(maxIndex, l); true }
      case sources.EqualTo("frame_index", v) =>
        longOf(v).exists { l => maxIndex = math.min(maxIndex, l); true }
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan = new AviScan(opts, required, maxIndex)
}

private[sources] class AviScan(opts: AviFrameOptions, required: StructType,
                               maxIndex: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val payload = if (required.fieldNames.contains("frame_jpeg")) "payload"
      else "HEADERS-ONLY"
    val bound = if (maxIndex == Long.MaxValue) "" else s" frame_idx<=$maxIndex"
    s"graft-avi(${opts.paths.mkString(",")}) everyNth=${opts.everyNth} " +
      s"maxFrames=${opts.maxFrames} read=$payload$bound"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // metadata-only listing (the graft-clock rule, [[Packing.listFiles]]);
    // all byte IO in executors
    val files = Packing.listFiles(opts.paths,
      SparkSession.active.sparkContext.hadoopConfiguration)
      .map(st => (st.getPath.toString, st.getLen))
    // small files pack into byte-budgeted partitions (see [[Packing]]);
    // each file is still walked (and pruned) individually
    Packing.pack(files, opts.maxPartitionBytes)
      .map(paths => AviFilesPartition(paths): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new AviReaderFactory(opts, required.fieldNames, conf, maxIndex)
  }
}

/** A byte-budgeted pack of AVI files ([[Packing]]); walked one at a time. */
private[sources] case class AviFilesPartition(paths: Seq[String])
    extends InputPartition

private[sources] class AviReaderFactory(
    opts: AviFrameOptions, requiredCols: Array[String],
    conf: SerializableHadoopConf, maxIndex: Long) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[AviFilesPartition]
    new PackedPartitionReader[String](part.paths.iterator,
      p => new AviPartitionReader(p, opts, requiredCols, conf, maxIndex))
  }
}

/** One AVI file per partition. The payload column's presence in the
  * required schema decides the walk mode: with `frame_jpeg`, sampled frames
  * are pulled lazily from the open stream (ONE frame live at a time — the
  * task's bound, not `maxFrames` × frame size); without it, the walk reads
  * chunk headers only. Non-AVI files yield zero rows (the listing may glob
  * a mixed directory).
  */
private[sources] class AviPartitionReader(
    path: String, opts: AviFrameOptions,
    requiredCols: Array[String], conf: SerializableHadoopConf,
    maxIndex: Long)
    extends PartitionReader[InternalRow] {

  private val needsPayload = requiredCols.contains("frame_jpeg")
  private val fileUtf8 = UTF8String.fromString(path)

  // the walk is deferred to the first next() so the reader constructor
  // (driver-serialized) does no IO; the stream stays open across next()
  // calls (the walk is lazy — live memory is ONE frame) and is closed on
  // exhaustion or by close()
  private var in: java.io.InputStream = _
  private var info: AviMjpeg.AviInfo = _
  private var frames: Iterator[AviMjpeg.AviFrame] = _
  private var current: AviMjpeg.AviFrame = _

  override def next(): Boolean = {
    if (frames == null) {
      val p = new org.apache.hadoop.fs.Path(path)
      in = p.getFileSystem(conf.value).open(p)
      AviMjpeg.frameIterator(in, opts.everyNth, opts.maxFrames, needsPayload,
          maxIndex) match {
        case Some((i, fs)) => info = i; frames = fs
        case None => close(); frames = Iterator.empty
      }
    }
    if (frames.hasNext) { current = frames.next(); true }
    else { close(); false }
  }

  override def get(): InternalRow = {
    val f = current
    val values: Array[Any] = requiredCols.map {
      case "file" => fileUtf8: Any
      case "width" => info.width
      case "height" => info.height
      case "fps" =>
        if (info.microSecPerFrame > 0) 1e6 / info.microSecPerFrame else null
      case "frame_index" => f.index
      case "frame_time_sec" =>
        if (info.microSecPerFrame > 0) f.index * info.microSecPerFrame / 1e6
        else null
      case "frame_jpeg" => f.jpeg
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = if (in != null) { in.close(); in = null }
}
