package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Zarr v2 store reader (S10 — the compressed-ephys ".zarr twin").
  *
  * The reference's compression companion rewrites raw amplifier `.bin` files
  * as zarr archives; `resolve_ephys_file`
  * (`aeon/dj_pipeline/utils/ephys_utils.py:24-72`) prefers that twin over the
  * raw binary. Zarr v2 is an open, simple layout — a directory holding a
  * `.zarray` JSON header (shape / chunks / dtype / compressor) plus one file
  * per chunk, named by grid coordinates (`"0.0"`, `"1.0"`, …) — so a reader
  * needs nothing beyond JSON (Spark's shaded Jackson) and the JDK's zlib.
  * Supported here: C-order 1-D/2-D arrays, little-endian integer/float
  * dtypes, and `null` / `zlib` / `gzip` / `blosc` compressors — blosc
  * (zarr-python's DEFAULT, what real processed ephys stores use) via
  * [[Blosc]], the pure-Scala container codec over Spark's own bundled
  * lz4/zstd/snappy libraries, byte- and bit-shuffle filters both.
  *
  * This object holds the format: the header parse, the chunk codecs and the
  * writers. Reading is the `graft-zarr` DataSource V2 ([[ZarrTableSource]]);
  * [[read]] is a call into it. A zarr chunk is the store's own memory bound
  * (the writer sized it to fit in RAM); a task inflates one chunk at a time,
  * emits its rows, and never sees the rest of the array. The chunk-grid
  * enumeration is catalog-scale driver metadata, the same class as any
  * file-source listing.
  */
object ZarrSource {

  /** Parsed `.zarray` header. `chunks`/`shape` are row-major (C order).
    * `fillValue = None` means the store declares `fill_value: null` (no
    * defined fill) — readers then REQUIRE every chunk file to exist, since
    * there is no value an absent chunk could legally materialize as.
    */
  final case class ZarrMeta(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                            compressor: Option[String], order: String,
                            dimSeparator: String,
                            fillValue: Option[Double] = Some(0.0)) {
    require(order == "C", s"only C-order zarr supported, got '$order'")
    require(shape.nonEmpty && shape.length <= 2,
      s"only 1-D/2-D zarr arrays supported, got shape $shape")
    require(shape.length == chunks.length, "shape/chunks rank mismatch")

    /** Chunk-grid extent per dimension: ceil(shape / chunks). */
    def grid: Seq[Long] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
  }

  object ZarrMeta {
    /** Bytes per element, from the numpy dtype string (e.g. `<u2`, `<f4`). */
    def elemBytes(dtype: String): Int = dtype.drop(2).toInt
  }

  @transient private lazy val jsonMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Read and validate a store's `.zarray` header. */
  def readMeta(spark: SparkSession, storePath: String): ZarrMeta = {
    val p = new org.apache.hadoop.fs.Path(storePath, ".zarray")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val doc =
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toString("UTF-8")
      } finally in.close()
    parseMeta(doc)
  }

  private[graft] def parseMeta(doc: String): ZarrMeta = {
    import scala.jdk.CollectionConverters._
    val root = jsonMapper.readTree(doc)
    require(root.path("zarr_format").asInt(2) == 2,
      "only zarr v2 stores supported")
    val dtype = root.path("dtype").asText()
    require(dtype.matches("[<|][uif][1248]"),
      s"unsupported dtype '$dtype' (need little-endian/byte-order-free numeric)")
    require(root.path("filters").isNull || root.path("filters").isMissingNode ||
      root.path("filters").isEmpty, "zarr filters not supported")
    val comp = root.path("compressor")
    val compId =
      if (comp.isNull || comp.isMissingNode) None
      else Some(comp.path("id").asText())
    compId.foreach(id => require(id == "zlib" || id == "gzip" ||
      id == "blosc" || id == "zstd" || id == "lz4",
      s"unsupported compressor '$id' (zlib/gzip/blosc/zstd/lz4/null)"))
    ZarrMeta(
      shape = root.path("shape").elements().asScala.map(_.asLong()).toSeq,
      chunks = root.path("chunks").elements().asScala.map(_.asInt()).toSeq,
      dtype = dtype,
      compressor = compId,
      order = root.path("order").asText("C"),
      dimSeparator = root.path("dimension_separator").asText("."),
      fillValue = {
        val f = root.path("fill_value")
        if (f.isNull || f.isMissingNode) None else Some(f.asDouble())
      })
  }

  /** Inflate one chunk payload to its raw C-order buffer, wrapped
    * little-endian for [[readElemAt]]. */
  private[sources] def inflateChunk(bytes: Array[Byte], compressor: Option[String],
                                    rawLen: Int): ByteBuffer = {
    val raw = compressor match {
      case None => bytes
      case Some("zlib") =>
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(bytes)
          val out = new Array[Byte](rawLen)
          var off = 0
          var stalled = false
          while (off < rawLen && !inf.finished() && !stalled) {
            val n = inf.inflate(out, off, rawLen - off)
            // inflate()==0 with more output expected means the stream is
            // truncated/corrupt (needsInput with nothing left to give) — fail
            // the task instead of spinning forever.
            if (n == 0 && !inf.finished()) stalled = true else off += n
          }
          require(off == rawLen, s"zlib chunk inflated to $off of $rawLen bytes")
          out
        } finally inf.end()
      case Some("gzip") =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val out = new Array[Byte](rawLen)
          var off = 0
          var n = 0
          while (off < rawLen && n >= 0) {
            n = in.read(out, off, rawLen - off)
            if (n > 0) off += n
          }
          require(off == rawLen, s"gzip chunk inflated to $off of $rawLen bytes")
          out
        } finally in.close()
      case Some("blosc") =>
        val out = Blosc.decompress(bytes)
        require(out.length == rawLen,
          s"blosc chunk inflated to ${out.length} of $rawLen bytes")
        out
      // numcodecs' RAW codec ids (stores written with Zstd()/LZ4() instead of
      // Blosc(...)): zstd = a bare zstd frame; lz4 = int32-LE original-size
      // prefix + one lz4 block
      case Some("zstd") =>
        val out = com.github.luben.zstd.Zstd.decompress(bytes, rawLen)
        require(out.length == rawLen,
          s"zstd chunk inflated to ${out.length} of $rawLen bytes")
        out
      case Some("lz4") =>
        require(bytes.length >= 4, "numcodecs-lz4 chunk shorter than its prefix")
        val declared = ByteBuffer.wrap(bytes, 0, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt
        require(declared == rawLen,
          s"numcodecs-lz4 chunk declares $declared bytes, expected $rawLen")
        val out = new Array[Byte](rawLen)
        val n = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
          .decompress(bytes, 4, bytes.length - 4, out, 0)
        require(n == rawLen, s"lz4 chunk inflated to $n of $rawLen bytes")
        out
      case Some(other) => throw new IllegalArgumentException(s"compressor $other")
    }
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Typed element read from a chunk buffer as Double (ephys payloads are
    * small ints / floats — double is lossless for all supported widths
    * except full-range u8/i8-exceeding longs, which ephys never uses).
    */
  private[sources] def readElemAt(buf: ByteBuffer, idx: Int, dtype: String): Double = {
    val kind = dtype(1); val width = dtype(2)
    (kind, width) match {
      case ('u', '1') => (buf.get(idx) & 0xFF).toDouble
      case ('i', '1') => buf.get(idx).toDouble
      case ('u', '2') => (buf.getShort(idx * 2) & 0xFFFF).toDouble
      case ('i', '2') => buf.getShort(idx * 2).toDouble
      case ('u', '4') => (buf.getInt(idx * 4) & 0xFFFFFFFFL).toDouble
      case ('i', '4') => buf.getInt(idx * 4).toDouble
      case ('u', '8') | ('i', '8') => buf.getLong(idx * 8).toDouble
      case ('f', '4') => buf.getFloat(idx * 4).toDouble
      case ('f', '8') => buf.getDouble(idx * 8)
      case _ => throw new IllegalArgumentException(s"dtype $dtype")
    }
  }

  /** Output schema of [[read]]: one row per outer-dimension index, channel
    * values as an array (1-D stores yield single-element arrays).
    */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false),
    StructField("channels", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Read a zarr store into `(file, row_index, channels)` rows with optional
    * gain/offset µV conversion — the drop-in twin of
    * [[BronzeIngest.flatBinaryU16]] for the compressed path
    * (`spike_sorting.py:209-211` scaling). A call into the `graft-zarr`
    * source ([[ZarrTableSource]]), which owns the decode.
    *
    * `rowRange = Some((lo, hi))` (inclusive) becomes a `row_index` filter
    * that the scan absorbs to PRUNE chunk files before any IO — chunk i
    * covers rows `[i·chunkRows, (i+1)·chunkRows)`, so a time slice of a long
    * recording opens only the overlapping chunks (the parquet
    * row-group-pruning analogue; the reference's interval reads get this via
    * `onix_imu.py:112-130`-style bound checks). Spark re-applies the exact
    * row predicate, so the result is precisely the slice.
    *
    * 2-D stores must chunk the channel dimension in full (`chunks(1) ==
    * shape(1)`, the layout the time-series compression writer emits) so each
    * sample's channels live in one chunk file and no regrouping shuffle is
    * needed; a channel-split store fails fast with the layout in the message.
    */
  def read(spark: SparkSession, storePath: String,
           gain: Double = 1.0, offset: Double = 0.0,
           rowRange: Option[(Long, Long)] = None): DataFrame = {
    val df = spark.read.format("graft-zarr")
      .option("gain", gain.toString).option("offset", offset.toString)
      .load(storePath)
    rowRange.fold(df) { case (lo, hi) => df.filter(col("row_index").between(lo, hi)) }
  }

  /** The raw→compressed path convention (`ephys_utils.py:24-72`
    * `resolve_ephys_file`): a raw file `…/raw/<sub>/<name>.bin` has its zarr
    * twin at `…/processed/<sub>/<name>.zarr`; prefer the twin, fall back to
    * raw. Same fixed single-`raw`-component contract as the reference.
    */
  def resolveEphysPath(spark: SparkSession, rawBinPath: String): String = {
    val parts = rawBinPath.split('/')
    val rawCount = parts.count(_ == "raw")
    require(rawCount <= 1,
      s"multiple 'raw' components in $rawBinPath: processed root ambiguous")
    if (rawCount == 0) return rawBinPath
    val i = parts.indexOf("raw")
    val twin = (parts.take(i) :+ "processed") ++ parts.drop(i + 1)
    val twinPath = twin.mkString("/").replaceAll("\\.bin$", ".zarr")
    val fs = new org.apache.hadoop.fs.Path(rawBinPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(twinPath))) twinPath
    else rawBinPath
  }

  /** Write a small zarr v2 store (fixture/export twin of [[read]]): data as
    * row-major doubles cast to `dtype`, chunked `(chunkRows, nCols)`. This is
    * the writer side of the compression companion's contract — and what the
    * round-trip spec drives.
    */
  def write(spark: SparkSession, storePath: String, data: Array[Array[Double]],
            dtype: String = "<f8", chunkRows: Int = 1024,
            compressor: Option[String] = Some("zlib")): Unit = {
    require(data.nonEmpty)
    val nCols = data.head.length
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cr = writeHeader(fs, storePath, data.length.toLong, nCols, chunkRows,
      dtype, compressor)
    data.grouped(cr).zipWithIndex.foreach { case (chunk, ci) =>
      // edge chunks are stored FULL-SIZE (zarr contract), zero-padded
      val buf = ByteBuffer.allocate(cr * nCols * ZarrMeta.elemBytes(dtype))
        .order(ByteOrder.LITTLE_ENDIAN)
      chunk.foreach(row => row.foreach(v => putElem(buf, v, dtype)))
      val payload = compressChunk(buf.array(), compressor, ZarrMeta.elemBytes(dtype))
      val cOut = fs.create(
        new org.apache.hadoop.fs.Path(storePath, s"$ci.0"), true)
      try cOut.write(payload) finally cOut.close()
    }
  }

  /** Write the `.zarray` header (driver-side, the store's only metadata) and
    * return the effective chunk row count. Shared by [[write]] and
    * [[writeDistributed]] so both emit byte-identical stores.
    */
  private def writeHeader(fs: org.apache.hadoop.fs.FileSystem, storePath: String,
                          nRows: Long, nCols: Int, chunkRows: Int,
                          dtype: String, compressor: Option[String]): Int = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    fs.mkdirs(store)
    // sweep `.chunk-*.tmp` leftovers of tasks killed mid-publish in a prior
    // write (dot-prefixed, so readers never see them — this just reclaims
    // the space before the store is rewritten)
    fs.listStatus(store).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".chunk-") && name.endsWith(".tmp"))
        fs.delete(st.getPath, false)
    }
    val cr = math.min(chunkRows.toLong, nRows).toInt
    val compJson = compressor match {
      case Some(b) if b.startsWith("blosc") =>
        s"""{"id": "blosc", "cname": "${bloscCname(b)}", "clevel": 5,
           | "shuffle": ${if (bloscBitShuffle(b)) 2 else 1},
           | "blocksize": 0}""".stripMargin.replace("\n", "")
      // per-id configs match each numcodecs codec's actual kwargs, so
      // zarr-python can open our stores without a config TypeError
      case Some("zstd") => """{"id": "zstd", "level": 3}"""
      case Some("lz4") => """{"id": "lz4", "acceleration": 1}"""
      case Some(id) => s"""{"id": "$id", "level": 1}"""
      case None => "null"
    }
    val header =
      s"""{"zarr_format": 2, "shape": [$nRows, $nCols],
         | "chunks": [$cr, $nCols], "dtype": "$dtype",
         | "compressor": $compJson, "fill_value": 0, "order": "C",
         | "filters": null}""".stripMargin
    val hOut = fs.create(new org.apache.hadoop.fs.Path(storePath, ".zarray"), true)
    try hOut.write(header.getBytes("UTF-8")) finally hOut.close()
    cr
  }

  /** Writer compressor ids: `zlib`, `gzip`, `blosc` (= lz4 + byte-shuffle,
    * zarr-python's default), `blosc:<cname>` for lz4hc/zstd/zlib/snappy
    * inner codecs, or `blosc:<cname>:bit` for the bit-shuffle filter
    * (numcodecs `shuffle=2`).
    */
  private def bloscCname(id: String): String = id.split(':') match {
    case Array(_) => "lz4"
    case Array(_, c) => c
    case Array(_, c, "bit") => c
    case _ => throw new IllegalArgumentException(s"compressor id '$id'")
  }

  private def bloscBitShuffle(id: String): Boolean =
    id.split(':') match {
      case Array(_, _, "bit") => true
      case _ => false
    }

  /** Deflate one raw C-order chunk buffer. Fixed settings (zlib level 1
    * matching the reference companion's speed-over-ratio choice; blosc
    * clevel 5 + byte-shuffle over the store's element width, zarr-python's
    * defaults) keep the output a pure function of the input bytes — what
    * makes distributed task retries and the driver/distributed
    * byte-identity spec possible.
    */
  private def compressChunk(raw: Array[Byte], compressor: Option[String],
                            typesize: Int): Array[Byte] =
    compressor match {
      case None => raw
      case Some(b) if b.startsWith("blosc") =>
        Blosc.compress(raw, typesize, cname = bloscCname(b),
          shuffle = !bloscBitShuffle(b), bitShuffle = bloscBitShuffle(b))
      case Some("zstd") => com.github.luben.zstd.Zstd.compress(raw, 3)
      case Some("lz4") =>
        // Java impl pinned for cross-executor byte-identity (see Blosc)
        val c = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
        val dst = new Array[Byte](4 + c.maxCompressedLength(raw.length))
        ByteBuffer.wrap(dst, 0, 4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(raw.length)
        val n = c.compress(raw, 0, raw.length, dst, 4, dst.length - 4)
        java.util.Arrays.copyOf(dst, 4 + n)
      case Some("zlib") =>
        val d = new java.util.zip.Deflater(1)
        try {
          d.setInput(raw); d.finish()
          val out = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](64 * 1024)
          while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
          out.toByteArray
        } finally d.end()
      case Some("gzip") =>
        val out = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(out)
        try { g.write(raw); g.finish() } finally g.close()
        out.toByteArray
      case Some(other) => throw new IllegalArgumentException(other)
    }

  /** Distributed zarr v2 writer — the production-shaped WRITE twin of
    * [[read]], closing the read/write asymmetry: [[write]] is a driver-loop
    * fixture writer, but the pipeline this models re-chunks an 83 GB/h
    * amplifier stream into ~30 s zarr chunks
    * (`aeon/dj_pipeline/ephys_compression/spike_sorting.py:325-345`), which
    * no driver can hold.
    *
    * Input contract: `df` has a dense `rowCol` (0..n-1, the sample index)
    * and a fixed-width `channelsCol` (`array<double>`) — exactly what
    * [[read]] emits, so read→transform→write round-trips.
    *
    * Scale shape:
    *  - ONE shuffle, keyed on the chunk index (`row / chunkRows`), sorted by
    *    row within partitions — each chunk's rows land contiguously in the
    *    task that writes that chunk file. Memory per task is ONE raw chunk
    *    buffer (`chunkRows × nCols × elemBytes` — the bound the store format
    *    itself defines), independent of total rows.
    *  - each task writes its own chunk files via write-to-temp + rename, so
    *    a task retry (or speculative twin) never exposes a torn chunk; chunk
    *    payloads are deterministic, so re-execution converges byte-identically.
    *  - the driver writes ONLY the `.zarray` header — its work is O(1).
    *  - density is verified IN the tasks: sorted rows of chunk `c` must be
    *    exactly `c·chunkRows + i`, so any gap, duplicate, or stray index
    *    fails the job with the offending chunk named — no extra
    *    validation pass over the data.
    */
  def writeDistributed(df: DataFrame, storePath: String,
                       chunkRows: Int = 1024, dtype: String = "<f8",
                       compressor: Option[String] = Some("zlib"),
                       rowCol: String = "row_index",
                       channelsCol: String = "channels"): Unit = {
    require(chunkRows > 0, "chunkRows must be positive")
    val spark = df.sparkSession
    // one catalog-scale aggregate: row extent + channel width (validated
    // constant in the tasks)
    val stats = df.agg(
      count(lit(1)).as("n"), min(col(rowCol)).as("lo"), max(col(rowCol)).as("hi"),
      first(size(col(channelsCol))).as("w")).head()
    val n = stats.getLong(0)
    require(n > 0, "writeDistributed needs at least one row")
    val lo = stats.getLong(1); val hi = stats.getLong(2)
    require(lo == 0L && hi == n - 1,
      s"$rowCol must be dense 0..${n - 1}, got range [$lo, $hi] over $n rows")
    val nCols = stats.getInt(3)

    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cr = writeHeader(fs, storePath, n, nCols, chunkRows, dtype, compressor)
    val nChunks = ((n + cr - 1) / cr).toInt

    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val elemBytes = ZarrMeta.elemBytes(dtype)
    // cast channels to array<double>: array<float> input gets a defined
    // widening instead of a bare ClassCastException inside the task loop
    df.select(floor(col(rowCol) / cr).as("__chunk"),
        col(rowCol).cast("long").as("__row"),
        col(channelsCol).cast("array<double>").as("__ch"))
      .repartition(nChunks, col("__chunk"))
      .sortWithinPartitions("__chunk", "__row")
      .foreachPartition { (rows: Iterator[Row]) =>
        val fsT = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(conf.value)
        var curChunk = -1L
        var buf: ByteBuffer = null
        var filled = 0

        def flush(): Unit = if (curChunk >= 0) {
          val base = curChunk * cr
          val expect = math.min(cr.toLong, n - base).toInt
          require(filled == expect,
            s"chunk $curChunk holds $filled of $expect rows — $rowCol has " +
              "gaps or duplicates")
          val tmp = new org.apache.hadoop.fs.Path(storePath,
            s".chunk-$curChunk-${java.util.UUID.randomUUID()}.tmp")
          val out = fsT.create(tmp, true)
          try out.write(compressChunk(buf.array(), compressor, elemBytes))
          finally out.close()
          val dest = new org.apache.hadoop.fs.Path(storePath, s"$curChunk.0")
          // publish by RENAME ONLY — no pre-delete. `dest` can only exist
          // via a completed rename, i.e. a retried/speculative twin already
          // published the identical bytes (the partition's content is a
          // pure function of the chunk id), so a false return with dest
          // present is success. A delete-then-rename would open a window
          // where a killed speculative twin leaves the chunk MISSING after
          // the job reports success.
          if (!fsT.rename(tmp, dest)) {
            val published = fsT.exists(dest)
            fsT.delete(tmp, false)
            require(published, s"failed to publish chunk $dest")
          }
        }

        rows.foreach { r =>
          val chunk = r.getLong(0); val row = r.getLong(1)
          if (chunk != curChunk) {
            flush()
            curChunk = chunk
            // edge chunks are stored FULL-SIZE (zarr contract), zero-padded
            buf = ByteBuffer.allocate(cr * nCols * elemBytes)
              .order(ByteOrder.LITTLE_ENDIAN)
            filled = 0
          }
          require(row == curChunk * cr + filled,
            s"expected $rowCol ${curChunk * cr + filled} next in chunk " +
              s"$curChunk, got $row — $rowCol has gaps or duplicates")
          // elements come out boxed: a null ELEMENT would silently unbox to
          // 0.0 under getSeq[Double] and land in the store indistinguishable
          // from real data — null-check before unboxing (same discipline as
          // the density/width requires above)
          val ch = r.getSeq[Any](2)
          require(ch.length == nCols,
            s"$channelsCol width ${ch.length} != $nCols at $rowCol=$row")
          var c = 0
          while (c < nCols) {
            val v = ch(c)
            require(v != null, s"null sample at $rowCol=$row channel $c")
            putElem(buf, v.asInstanceOf[Double], dtype)
            c += 1
          }
          filled += 1
        }
        flush()
      }
  }

  private def putElem(buf: ByteBuffer, v: Double, dtype: String): Unit =
    (dtype(1), dtype(2)) match {
      case ('u', '1') | ('i', '1') => buf.put(v.toByte)
      case ('u', '2') | ('i', '2') => buf.putShort(v.toShort)
      case ('u', '4') | ('i', '4') => buf.putInt(v.toInt)
      case ('u', '8') | ('i', '8') => buf.putLong(v.toLong)
      case ('f', '4') => buf.putFloat(v.toFloat)
      case ('f', '8') => buf.putDouble(v)
      case _ => throw new IllegalArgumentException(s"dtype $dtype")
    }
}
