package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for zarr v2 stores — `format("graft-zarr")`.
  *
  * The one zarr decoder: [[ZarrSource.read]] is a call into this source.
  * `row_index` range filters push down through Catalyst to CHUNK-FILE
  * pruning (chunk i covers rows `[i·chunkRows, (i+1)·chunkRows)`), so
  * `spark.read.format("graft-zarr").load(store).filter($"row_index" between
  * (lo, hi))` opens only the overlapping chunk files — the parquet
  * row-group-pruning analogue, visible to the optimizer. Filters stay
  * residual (Spark re-applies the exact row predicate), matching
  * `graft-clock`'s contract.
  *
  * Options: `gain`, `offset` (µV scaling, default 1/0), `maxPartitionBytes`.
  * Chunks pack into byte-budgeted tasks ([[Packing]]) and decode one at a
  * time; the chunk is the memory bound ([[ZarrSource]] scale notes).
  */
class ZarrTableSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-zarr"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ZarrTable(ZarrTableOptions(properties))
}

private[sources] final case class ZarrTableOptions(
    store: String, gain: Double, offset: Double,
    maxPartitionBytes: Long = Packing.DefaultMaxPartitionBytes)

private[sources] object ZarrTableOptions {
  def apply(properties: JMap[String, String]): ZarrTableOptions = {
    def opt(k: String): Option[String] =
      Option(properties.get(k)).filter(_.nonEmpty)
    val store = opt("path").getOrElse(
      throw new IllegalArgumentException(
        "graft-zarr requires exactly one store path: " +
          "spark.read.format(\"graft-zarr\").load(<store.zarr>)"))
    require(opt("paths").isEmpty,
      "graft-zarr reads one store per load(); union multiple loads instead")
    ZarrTableOptions(store,
      opt("gain").map(_.toDouble).getOrElse(1.0),
      opt("offset").map(_.toDouble).getOrElse(0.0),
      Packing.maxPartitionBytes(opt("maxPartitionBytes")))
  }
}

private[sources] class ZarrTable(opts: ZarrTableOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft-zarr(${opts.store})"
  override def schema(): StructType = ZarrSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(opts)
}

private[sources] class ZarrScanBuilder(opts: ZarrTableOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = ZarrSource.schema
  private var accepted: Array[Filter] = Array.empty
  private var lo: Long = Long.MinValue
  private var hi: Long = Long.MaxValue

  private def absorb(f: Filter): Boolean = f match {
    case GreaterThan("row_index", v: Long) =>
      if (v != Long.MaxValue) lo = math.max(lo, v + 1); true
    case GreaterThanOrEqual("row_index", v: Long) => lo = math.max(lo, v); true
    case LessThan("row_index", v: Long) =>
      if (v != Long.MinValue) hi = math.min(hi, v - 1); true
    case LessThanOrEqual("row_index", v: Long) => hi = math.min(hi, v); true
    case EqualTo("row_index", v: Long) =>
      lo = math.max(lo, v); hi = math.min(hi, v); true
    case And(l, r) => val la = absorb(l); val ra = absorb(r); la && ra
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(absorb)
    filters // all residual: Spark re-applies exact row predicates
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT / MIN(row_index) / MAX(row_index) answer from the `.zarray`
    * header alone: `row_index` is dense 0..shape[0]-1 by the store's own
    * contract, so the extent IS the shape — the scan plans ONE synthetic
    * partition and never lists, opens, or inflates a chunk file
    * (spec-pinned by corrupting every chunk and still aggregating).
    * PARTIAL pushdown like parquet/graft-clock: the scan emits one stats
    * row, Spark's final aggregate folds it. Spark offers aggregates only
    * when no residual filters remain, and every filter here stays
    * residual, so pushed aggregates and row filters never mix.
    */
  private var aggCodes: Option[Array[Int]] = None
  private var pushedAggDesc: Seq[String] = Nil
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    def isRow(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.sameElements(Array("row_index"))
        case _ => false
      }
    if (aggregation.groupByExpressions.nonEmpty) return false
    val exprs = aggregation.aggregateExpressions
    val codes = exprs.flatMap {
      case _: CountStar => Some(ZarrAggCode.CountRows)
      case m: Min if isRow(m.column) => Some(ZarrAggCode.MinRow)
      case m: Max if isRow(m.column) => Some(ZarrAggCode.MaxRow)
      // row_index is non-nullable, so COUNT(row_index) == COUNT(*)
      case c: Count if !c.isDistinct && isRow(c.column) =>
        Some(ZarrAggCode.CountRows)
      case _ => None
    }
    if (codes.length != exprs.length) false
    else {
      aggCodes = Some(codes)
      pushedAggDesc = exprs.map(_.describe).toSeq
      true
    }
  }

  override def build(): Scan = {
    // with a pushed aggregation the scan's output is the stats row —
    // positional mapping, one long per aggregate (nullable for min/max:
    // empty stores)
    val schema = aggCodes match {
      case Some(codes) => StructType(codes.zip(pushedAggDesc).map {
        case (c, d) =>
          StructField(d, LongType, nullable = c != ZarrAggCode.CountRows)
      })
      case None => required
    }
    new ZarrScan(opts, schema, accepted, lo, hi, aggCodes, pushedAggDesc)
  }
}

private[sources] object ZarrAggCode {
  val MinRow = 0; val MaxRow = 1; val CountRows = 2
}

private[sources] class ZarrScan(opts: ZarrTableOptions, required: StructType,
                                pushed: Array[Filter], lo: Long, hi: Long,
                                aggCodes: Option[Array[Int]] = None,
                                aggDesc: Seq[String] = Nil)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-zarr(${opts.store}) rowRange=[$lo,$hi] " +
      s"PushedFilters: [${pushed.mkString(", ")}] " +
      s"PushedAggregates: [${aggDesc.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    aggCodes match {
      case Some(codes) =>
        // header-only: the extent is the shape; no chunk is ever planned
        val meta = ZarrSource.readMeta(SparkSession.active, opts.store)
        return Array(ZarrAggPartition(meta.shape.head, codes))
      case None => ()
    }
    // header read + chunk-grid enumeration: catalog-scale driver metadata;
    // chunks disjoint from [lo, hi] are never planned at all
    val spark = SparkSession.active
    val meta = ZarrSource.readMeta(spark, opts.store)
    if (meta.shape.length == 2)
      require(meta.chunks(1) == meta.shape(1).toInt,
        s"channel-split zarr layout ${meta.chunks} for shape ${meta.shape}: " +
          "samples span chunk files; rechunk with chunks=(t, n_channels)")
    val cr = meta.chunks.head.toLong
    val nCols = if (meta.shape.length == 2) meta.shape(1).toInt else 1
    val chunks = (0L until meta.grid.head)
      .filter(i => i * cr <= hi && (i + 1) * cr - 1 >= lo)
      .map { i =>
        val c = ZarrChunkPartition(
          new org.apache.hadoop.fs.Path(opts.store,
            (Seq(i) ++ Seq.fill(meta.grid.length - 1)(0L)).mkString(meta.dimSeparator)
          ).toString,
          i, meta.chunks.head, nCols, meta.shape.head, meta.dtype,
          meta.compressor, meta.fillValue)
        // weight = the chunk's RAW size — the decompressed buffer is the
        // task's actual memory bound, and no file listing is needed
        (c, meta.chunks.head.toLong * nCols * ZarrSource.ZarrMeta.elemBytes(meta.dtype))
      }
    // pruning happened above; packing only groups the surviving chunks
    Packing.pack(chunks, opts.maxPartitionBytes)
      .map(cs => ZarrChunksPartition(cs): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new ZarrReaderFactory(opts, required.fieldNames, conf)
  }
}

private[sources] case class ZarrChunkPartition(
    path: String, chunkRow: Long, chunkRows: Int, nCols: Int, nRows: Long,
    dtype: String, compressor: Option[String], fill: Option[Double])

/** A byte-budgeted pack of chunk files ([[Packing]], weighed by raw chunk
  * size); decoded one at a time.
  */
private[sources] case class ZarrChunksPartition(chunks: Seq[ZarrChunkPartition])
    extends InputPartition

/** The header-derived stats row for a pushed aggregation: `row_index` is
  * dense 0..nRows-1, so the whole computation is the `.zarray` shape.
  */
private[sources] case class ZarrAggPartition(nRows: Long, codes: Array[Int])
    extends InputPartition

private[sources] class ZarrReaderFactory(
    opts: ZarrTableOptions, requiredCols: Array[String],
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case a: ZarrAggPartition =>
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = {
            val values: Array[Any] = a.codes.map {
              case ZarrAggCode.CountRows => a.nRows: Any
              case ZarrAggCode.MinRow => if (a.nRows > 0) 0L: Any else null
              case ZarrAggCode.MaxRow =>
                if (a.nRows > 0) (a.nRows - 1): Any else null
            }
            new GenericInternalRow(values)
          }
          override def close(): Unit = ()
        }
      case _ =>
        val part = partition.asInstanceOf[ZarrChunksPartition]
        new PackedPartitionReader[ZarrChunkPartition](part.chunks.iterator,
          c => new ZarrPartitionReader(c, opts, requiredCols, conf))
    }
}

/** One chunk file per partition, decoded through [[ZarrSource]]'s buffer
  * readers. Column pruning skips the channel decode entirely when only
  * `file`/`row_index` are required (count/extent queries never inflate a
  * chunk).
  */
private[sources] class ZarrPartitionReader(
    part: ZarrChunkPartition, opts: ZarrTableOptions,
    requiredCols: Array[String], conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val needsChannels = requiredCols.contains("channels")
  private val storeUtf8 = UTF8String.fromString(opts.store)
  private val base = part.chunkRow * part.chunkRows
  private val validRows = math.min(part.chunkRows.toLong, part.nRows - base)

  private var buf: java.nio.ByteBuffer = _
  private var fillStored: Option[Double] = None
  private var lr = -1
  private var loaded = false

  override def next(): Boolean = {
    lr += 1
    if (lr >= validRows) return false
    if (needsChannels && !loaded) {
      val p = new org.apache.hadoop.fs.Path(part.path)
      val fs = p.getFileSystem(conf.value)
      if (!fs.exists(p)) {
        // absent chunk file = every element is fill_value (the zarr
        // sparse-store contract); buf stays null and get() emits the fill
        fillStored = Some(part.fill.getOrElse(throw new
          IllegalArgumentException(s"chunk $p absent and fill_value is " +
            "null: the store defines no value for missing chunks")))
      } else {
        val in = fs.open(p)
        val raw =
          try {
            val out = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
            out.toByteArray
          } finally in.close()
        buf = ZarrSource.inflateChunk(raw, part.compressor,
          part.chunkRows * part.nCols * ZarrSource.ZarrMeta.elemBytes(part.dtype))
      }
      loaded = true
    }
    true
  }

  override def get(): InternalRow = {
    val values: Array[Any] = requiredCols.map {
      case "file" => storeUtf8: Any
      case "row_index" => base + lr
      case "channels" =>
        val vals = new Array[Double](part.nCols)
        var c = 0
        while (c < part.nCols) {
          vals(c) = (fillStored match {
            case Some(f) => f
            case None =>
              ZarrSource.readElemAt(buf, lr * part.nCols + c, part.dtype)
          }) * opts.gain + opts.offset
          c += 1
        }
        new GenericArrayData(vals)
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = ()
}
