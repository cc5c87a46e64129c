package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (driver brief): image/audio/video as opaque
  * `binary` columns with typed metadata, processed per-partition so one task
  * owns one batch of blobs — the Spark-side shape of a decode/feature
  * pipeline over 100 TB of media.
  *
  * IMAGE decode is REAL: blobs carrying a PNG/BMP/GIF/JPEG magic number are
  * decoded with the JDK's headless `javax.imageio.ImageIO` (no external
  * dependency) into true dimensions plus a luminance-histogram feature
  * vector. VIDEO decode is REAL for MJPEG-AVI (the container the reference's
  * cameras write): [[graft.sources.AviMjpeg]] walks the RIFF structure and
  * ImageIO decodes the JPEG frames. Only audio and non-MJPEG codecs (no
  * decoder in the JDK, none in this container) fall back to a deterministic
  * fake kernel so the pipeline shape — schema, partitioning, batch
  * iteration, null-row discipline — exercises end to end regardless of
  * payload type; swapping in a real codec is replacing the body of one
  * function.
  *
  * Reference analogue: per-frame video metadata + OpenCV frame extraction
  * (`aeon/dj_pipeline/utils/video.py:13-62`), kept behind a UDF boundary
  * exactly as the reference keeps pixels out of the relational layer.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every decode/encode
  // creates (and deletes) a temp file — thousands of filesystem ops per
  // task for blob-sized media. In-memory caching is strictly better for
  // per-blob-bounded payloads. JVM-global, set once at first use of any
  // media kernel (executors load this object before touching ImageIO).
  javax.imageio.ImageIO.setUseCache(false)

  /** Output schema of the fake feature extractor: per-blob typed metadata +
    * a fixed-width feature vector.
    */
  val featureSchema: StructType = StructType(Seq(
    // nullable: a null blob yields null width/height/features (P5 null-row
    // discipline — absent media is a row, not a dropped record).
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Magic-number sniff: true when the blob starts with a PNG, BMP, GIF, or
    * JPEG signature — the formats the JDK's ImageIO decodes headlessly.
    * Sniffing bytes (not a format column) is what lets one binary column
    * carry mixed media, as the reference's chunk stores do.
    */
  private[operators] def isImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && {
      val b0 = bytes(0) & 0xFF; val b1 = bytes(1) & 0xFF
      val b2 = bytes(2) & 0xFF; val b3 = bytes(3) & 0xFF
      (b0 == 0x89 && b1 == 'P' && b2 == 'N' && b3 == 'G') || // PNG
      (b0 == 'B' && b1 == 'M') ||                            // BMP
      (b0 == 'G' && b1 == 'I' && b2 == 'F' && b3 == '8') ||  // GIF
      (b0 == 0xFF && b1 == 0xD8 && b2 == 0xFF)               // JPEG
    }

  /** Cap on pixels sampled per blob for the histogram: decode cost must be
    * bounded per BLOB, not per image area, or one 100-megapixel scan stalls
    * a task (the same per-unit memory discipline as [[extractFeatures]]).
    */
  private val MaxHistogramSamples = 1 << 16

  /** REAL image decode via the JDK's headless ImageIO: true width/height and
    * a `dim`-bucket luminance histogram (fraction of sampled pixels per
    * bucket; ITU-R BT.601 integer luma). Pixels are stride-sampled on a
    * deterministic grid capped at [[MaxHistogramSamples]], so features cost
    * O(1) per blob regardless of image area. Returns None when ImageIO has
    * no reader for the bytes or the payload is corrupt — the caller falls
    * back to the opaque-blob kernel rather than dropping the row.
    */
  private def imageDecode(bytes: Array[Byte], dim: Int): Option[Row] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val step = math.max(1L, math.round(math.sqrt(
          w.toLong * h / MaxHistogramSamples.toDouble))).toInt
        val hist = new Array[Long](dim)
        var sampled = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000 // 0..255
            hist(lum * dim / 256) += 1
            sampled += 1
            x += step
          }
          y += step
        }
        val feats = hist.map(c => (c.toDouble / sampled).toFloat)
        Some(Row(w, h, bytes.length.toLong, feats))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL video decode for MJPEG-AVI blobs: container metadata (true
    * width/height from the `avih` header) via the streaming RIFF walker, plus
    * the luminance histogram of the FIRST frame (each MJPEG chunk is a
    * complete JPEG that ImageIO decodes). One frame bounds the cost per blob
    * exactly like [[MaxHistogramSamples]] bounds images. None when the
    * container is corrupt or the frame isn't decodable — caller falls back.
    */
  private def aviDecode(bytes: Array[Byte], dim: Int): Option[Row] =
    graft.sources.AviMjpeg.parseBytes(bytes, everyNth = 1, maxFrames = 1)
      .flatMap { case (info, frames) =>
        val frameRow = frames.headOption.flatMap(f => imageDecode(f.jpeg, dim))
        if (info.width > 0 && info.height > 0)
          Some(Row(info.width, info.height, bytes.length.toLong,
            frameRow.map(_.get(3)).orNull))
        else frameRow.map(r =>
          Row(r.get(0), r.get(1), bytes.length.toLong, r.get(3)))
      }

  /** STUB decode kernel for NON-image, NON-AVI media (audio, non-MJPEG
    * video — no codec in the JDK): deterministic fake with "dimensions"
    * derived from a byte hash and "features" a seeded per-blob
    * byte-histogram projection. Replace the body with e.g. a JNI codec call;
    * the partition iteration and schema stay identical.
    */
  private def fakeDecode(bytes: Array[Byte], dim: Int): Row = {
    val h = java.util.Arrays.hashCode(bytes)
    val width = 64 + math.floorMod(h, 1024)
    val height = 64 + math.floorMod(h >> 10, 1024)
    val feats = Array.tabulate(dim) { i =>
      var acc = 0L
      var j = i
      while (j < bytes.length) { acc += (bytes(j) & 0xFF); j += dim }
      (acc % 1000).toFloat / 1000.0f
    }
    Row(width, height, bytes.length.toLong, feats)
  }

  /** Per-blob dispatch: real ImageIO decode for image-signature blobs, real
    * RIFF-walk + first-frame decode for MJPEG-AVI blobs (both falling back
    * to the opaque kernel on a corrupt payload), deterministic fake for
    * everything else (audio, exotic containers).
    */
  private def decode(bytes: Array[Byte], dim: Int): Row =
    if (isImage(bytes)) imageDecode(bytes, dim).getOrElse(fakeDecode(bytes, dim))
    else if (graft.sources.AviMjpeg.isAvi(bytes))
      aviDecode(bytes, dim).getOrElse(fakeDecode(bytes, dim))
    else fakeDecode(bytes, dim)

  /** Decode/feature-extract a binary column per partition. Keeps all input
    * columns and appends `featureSchema`'s fields. One blob is decoded at a
    * time per task — media batches stream through without materializing the
    * whole partition (the 100 TB discipline: bound memory by blob, not by
    * partition).
    */
  def extractFeatures(df: DataFrame, binaryCol: String, dim: Int = 16): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ featureSchema.fields)
    val binIdx = inSchema.fieldIndex(binaryCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val extra =
          if (bytes == null) Row(null, null, 0L, null)
          else decode(bytes, dim)
        Row.fromSeq(r.toSeq ++ extra.toSeq)
      }
    }(enc)
  }

  /** Deterministic frame sampling over a video-like blob column: emit one row
    * per sampled frame index (the `retrieve_video_frames` slice contract,
    * `utils/video.py:29-46`) with a byte-slice "frame" — STUB standing in for
    * codec frame extraction; the explode/posexplode shape is the real thing.
    */
  def sampleFrames(df: DataFrame, binaryCol: String, idCols: Seq[String],
                   everyNth: Int = 10, maxFrames: Int = 8): DataFrame = {
    require(everyNth > 0 && maxFrames > 0)
    // Frame count proxy: blob length / 1024 (stub "frame size"); real codecs
    // replace this with container metadata. The plumbing — per-row sequence +
    // posexplode, never a driver loop — is the scale path.
    val nFrames = least(
      greatest(floor(length(col(binaryCol)) / 1024).cast("int"), lit(1)),
      lit(everyNth * maxFrames))
    df.select((idCols.map(col) :+ col(binaryCol) :+ nFrames.as("__n")): _*)
      .select((idCols.map(col) :+ col(binaryCol) :+
        posexplode(sequence(lit(0), col("__n") - 1, lit(everyNth)))
          .as(Seq("frame_pos", "frame_index"))): _*)
      .withColumn("frame_bytes",
        expr(s"substring($binaryCol, frame_index * 1024 + 1, 1024)"))
      .drop(binaryCol, "frame_pos")
  }

  /** Output schema of [[audioFeatures]]: per-blob header metadata + an
    * RMS-envelope feature vector. Nullable payload columns: a null or
    * undecodable blob keeps its row with null audio fields (P5 discipline).
    */
  val audioSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("bits", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("duration_sec", DoubleType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false),
      nullable = true)))

  /** WAV magic sniff: RIFF container with a WAVE form — the audio format the
    * JDK decodes without any external codec (`javax.sound.sampled`).
    */
  private[operators] def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  /** Direct parse of the canonical PCM16LE WAV layout — the lock-free hot
    * path. `AudioSystem.getAudioInputStream` serializes on a synchronized
    * SPI provider lookup, so 32 concurrent tasks convoy on one JVM lock
    * (measured 2.7 s for 5 000 tiny WAVs at `local[32]`, ~6× the actual
    * decode work); the canonical-PCM case is a trivial chunk walk this
    * method does with no shared state. Non-PCM16 / non-WAV payloads return
    * None and take the AudioSystem path, value-identically.
    */
  private def parseWavPcm16(bytes: Array[Byte], dim: Int): Option[Row] = try {
    if (!isWav(bytes)) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var fmtOk = false
    var channels = 0; var rate = 0; var blockAlign = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id = new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = buf.getInt(pos + 4)
      // Long arithmetic: a crafted size near Int.MaxValue wraps pos+8+size
      // negative in Int, sneaking past the malformed check.
      if (size < 0 || pos.toLong + 8 + size > bytes.length) return None // malformed
      if (id == "fmt " && size >= 16) {
        val audioFormat = buf.getShort(pos + 8) & 0xFFFF
        channels = buf.getShort(pos + 10) & 0xFFFF
        rate = buf.getInt(pos + 12)
        blockAlign = buf.getShort(pos + 20) & 0xFFFF
        val bits = buf.getShort(pos + 22) & 0xFFFF
        if (audioFormat != 1 || bits != 16 || channels == 0 ||
            blockAlign != channels * 2) return None // not canonical PCM16
        fmtOk = true
      } else if (id == "data") { dataOff = pos + 8; dataLen = size }
      pos += 8 + size + (size & 1)
    }
    if (!fmtOk || dataOff < 0) return None
    val nFrames = dataLen / blockAlign
    val dur = if (rate > 0) nFrames.toDouble / rate else 0.0
    val feats: Array[Float] =
      if (nFrames > 0) {
        val sumSq = new Array[Double](dim)
        val counts = new Array[Long](dim)
        var frame = 0
        while (frame < nFrames) {
          val b = ((frame.toLong * dim) / nFrames).toInt.min(dim - 1)
          var c = 0
          while (c < channels) {
            val s = buf.getShort(dataOff + frame * blockAlign + 2 * c) / 32768.0
            sumSq(b) += s * s
            c += 1
          }
          counts(b) += channels
          frame += 1
        }
        Array.tabulate(dim)(b =>
          if (counts(b) == 0) 0.0f else math.sqrt(sumSq(b) / counts(b)).toFloat)
      } else null
    Some(Row(rate, channels, 16, nFrames.toLong, dur, bytes.length.toLong,
      if (feats == null) null else feats))
  } catch {
    // Like the sibling decoders: a malformed payload yields the P5 null-row
    // fallback, never a task-killing exception.
    case scala.util.control.NonFatal(_) => None
  }

  /** REAL audio decode: the lock-free [[parseWavPcm16]] fast path for
    * canonical PCM16 WAV, `javax.sound.sampled.AudioSystem` for everything
    * else the JDK reads (AIFF/AU, other WAV encodings — headless): header
    * metadata plus a `dim`-bucket RMS envelope of the normalized waveform
    * (bucket b covers frames [b·n/dim, (b+1)·n/dim), all channels pooled).
    * ONE sequential pass, O(dim) state — per-blob cost is linear in the
    * payload the task already holds. None when the JDK has no reader for
    * the bytes.
    */
  private def audioDecode(bytes: Array[Byte], dim: Int): Option[Row] =
    parseWavPcm16(bytes, dim).orElse(audioDecodeViaAudioSystem(bytes, dim))

  private def audioDecodeViaAudioSystem(bytes: Array[Byte], dim: Int): Option[Row] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val nFrames = in.getFrameLength
        val bits = fmt.getSampleSizeInBits
        val ch = fmt.getChannels
        val rate = math.round(fmt.getSampleRate).toInt
        val dur = if (rate > 0) nFrames.toDouble / rate else 0.0
        // RMS envelope: only 16-bit little-endian signed PCM is decoded for
        // features (the reference hardware's own sample format); other
        // encodings keep metadata-only rows (features null).
        val feats: Array[Float] =
          if (bits == 16 && !fmt.isBigEndian &&
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
              nFrames > 0) {
            val sumSq = new Array[Double](dim)
            val counts = new Array[Long](dim)
            val frameBytes = fmt.getFrameSize
            val buf = new Array[Byte](frameBytes * 1024)
            var frame = 0L
            var read = in.read(buf)
            while (read > 0) {
              var off = 0
              while (off + frameBytes <= read) {
                val b = ((frame * dim) / nFrames).toInt.min(dim - 1)
                var c = 0
                while (c < ch) {
                  val lo = buf(off + 2 * c) & 0xFF
                  val hi = buf(off + 2 * c + 1)
                  val s = ((hi << 8) | lo) / 32768.0
                  sumSq(b) += s * s
                  c += 1
                }
                counts(b) += ch
                frame += 1
                off += frameBytes
              }
              read = in.read(buf)
            }
            Array.tabulate(dim)(b =>
              if (counts(b) == 0) 0.0f
              else math.sqrt(sumSq(b) / counts(b)).toFloat)
          } else null
        Some(Row(rate, ch, bits, nFrames, dur, bytes.length.toLong,
          if (feats == null) null else feats))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio feature extraction over a binary column: REAL decode for the
    * JDK's audio formats (WAV PCM et al.), null audio fields for anything
    * else — the audio twin of [[extractFeatures]], with audio-shaped
    * metadata instead of the image schema.
    */
  def audioFeatures(df: DataFrame, binaryCol: String, dim: Int = 16): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ audioSchema.fields)
    val binIdx = inSchema.fieldIndex(binaryCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val extra =
          if (bytes == null) Row(null, null, null, null, null, 0L, null)
          else audioDecode(bytes, dim).getOrElse(
            Row(null, null, null, null, null, bytes.length.toLong, null))
        Row.fromSeq(r.toSeq ++ extra.toSeq)
      }
    }(enc)
  }

  /** Canonical 44-byte-header PCM16LE WAV writer — fixture/export twin of
    * [[audioFeatures]]. Byte-for-byte deterministic (no encoder in the
    * loop), so round-trip queries can be oracled exactly.
    */
  def buildWavPcm16(samples: Array[Short], sampleRate: Int,
                    channels: Int = 1): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && samples.length % channels == 0)
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Streaming PCM16 WAV writer — the bounded-memory export twin of
    * [[buildWavPcm16]] (which assembles the file in one in-memory buffer).
    * Samples stream through a forward-only `OutputStream` in caller-sized
    * batches; memory is the batch being written.
    *
    * WAV has no "size unknown" convention that canonical-PCM readers (our
    * own [[isWav]] fast path included) accept, so the frame count is
    * DECLARED up front — an export pipeline always has it (a count
    * aggregate over the rows it is about to drain) — and the 44-byte
    * header is exact from byte 0: output is byte-identical to
    * [[buildWavPcm16]] of the concatenated samples. [[WavStreamWriter.finish]]
    * fails loudly if the declared and written counts disagree, so a
    * truncated export can never masquerade as a complete file.
    */
  final class WavStreamWriter(out: java.io.OutputStream, sampleRate: Int,
                              channels: Int, totalFrames: Long) {
    require(sampleRate > 0 && channels > 0 && totalFrames >= 0)
    // bound-check BEFORE multiplying: an absurd frame count could wrap
    // `totalFrames * channels * 2` negative and slip past a post-hoc u32
    // check, emitting a garbage header instead of failing loudly
    require(totalFrames <= (0xFFFFFFFFL - 36) / (channels.toLong * 2),
      s"$totalFrames frames x $channels ch exceeds the WAV u32 size field")
    private val dataLen = totalFrames * channels * 2
    private var written = 0L
    private var finished = false

    // header identical to buildWavPcm16's
    private val hdr = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put("RIFF".getBytes("US-ASCII")).putInt((36 + dataLen).toInt)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen.toInt)
    out.write(hdr.array())

    /** Append a batch of interleaved samples (length a multiple of
      * `channels`).
      */
    def writeSamples(samples: Array[Short]): Unit = {
      require(!finished, "writer already finished")
      require(samples.length % channels == 0,
        s"batch of ${samples.length} samples is not a whole number of " +
          s"$channels-channel frames")
      val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(buf.putShort)
      out.write(buf.array())
      written += samples.length / channels
      require(written <= totalFrames,
        s"wrote $written frames but declared only $totalFrames")
    }

    def finish(): Unit = {
      require(!finished, "writer already finished")
      require(written == totalFrames,
        s"declared $totalFrames frames but wrote $written — truncated export")
      finished = true
      out.flush()
    }
  }

  /** REAL video frame sampling for MJPEG-AVI blob columns: one output row
    * per sampled frame with the frame's actual JPEG bytes, through the same
    * RIFF walk as the `graft-avi` file scan
    * ([[graft.sources.AviMjpeg.parseBytes]]). Files belong to that scan;
    * this serves AVIs already held in a binary column, and is the real
    * version of [[sampleFrames]] (which byte-slices opaque blobs).
    * Non-AVI / corrupt blobs yield zero frames.
    * Memory per task is bounded by `maxFrames` decoded chunks, and skipped
    * frames cost 8 header bytes in the walker.
    */
  def sampleAviFrames(df: DataFrame, binaryCol: String, idCols: Seq[String],
                      everyNth: Int = 10, maxFrames: Int = 8): DataFrame = {
    require(everyNth > 0 && maxFrames > 0)
    val inSchema = df.schema
    val idIdxs = idCols.map(inSchema.fieldIndex)
    val binIdx = inSchema.fieldIndex(binaryCol)
    val outSchema = StructType(
      idCols.map(c => inSchema(inSchema.fieldIndex(c))) ++ Seq(
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("frame_index", LongType, nullable = false),
        StructField("frame_jpeg", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val ids = idIdxs.map(r.get)
        if (bytes == null) Iterator.empty
        else graft.sources.AviMjpeg.parseBytes(bytes, everyNth, maxFrames)
          .iterator.flatMap { case (info, frames) =>
            frames.map(f =>
              Row.fromSeq(ids ++ Seq(info.width, info.height, f.index, f.jpeg)))
          }
      }
    }(enc)
  }

  /** Maximum output dimension guard for [[thumbnails]]: a resize kernel that
    * allocates the OUTPUT raster must bound it — the input is already
    * bounded per-blob by the decode.
    */
  private val MaxThumbDim = 4096

  /** REAL image re-encode: decode (ImageIO), downscale so the longer edge is
    * ≤ `maxDim` (never upscales), re-encode as `format` (`jpg`/`png`/`bmp` —
    * the JDK's headless writers). Non-image or corrupt blobs yield NULL (the
    * P5 null-row discipline — the row survives, the media column is absent).
    *
    * This is the resize/transcode stage of a media training pipeline (the
    * reference's frame → JPEG export, `aeon/dj_pipeline/utils/video.py:49-62`)
    * as a per-partition kernel: one blob in flight per task, output bounded
    * by `maxDim²`, no driver involvement.
    */
  def thumbnails(df: DataFrame, binaryCol: String, maxDim: Int,
                 format: String = "jpg",
                 outCol: String = "thumbnail"): DataFrame = {
    require(maxDim > 0 && maxDim <= MaxThumbDim, s"maxDim must be 1..$MaxThumbDim")
    require(Set("jpg", "jpeg", "png", "bmp")(format.toLowerCase),
      s"no headless JDK writer for format '$format'")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField(outCol, BinaryType, nullable = true))
    val binIdx = inSchema.fieldIndex(binaryCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val thumb =
          if (bytes == null || !isImage(bytes)) null
          else reencode(bytes, maxDim, format).orNull
        Row.fromSeq(r.toSeq :+ thumb)
      }
    }(enc)
  }

  /** Decode → bounded downscale → encode. None when ImageIO cannot read the
    * payload or produces an empty image. JPEG has no alpha channel, so the
    * scaled raster is drawn into TYPE_INT_RGB over white (the standard
    * alpha-flatten); bilinear interpolation for the downscale.
    */
  private def reencode(bytes: Array[Byte], maxDim: Int,
                       format: String): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth == 0 || img.getHeight == 0) None
      else {
        val scale = math.min(1.0,
          maxDim.toDouble / math.max(img.getWidth, img.getHeight))
        val w = math.max(1, math.round(img.getWidth * scale).toInt)
        val h = math.max(1, math.round(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.setColor(java.awt.Color.WHITE)
          g.fillRect(0, 0, w, h)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val buf = new java.io.ByteArrayOutputStream()
        if (!javax.imageio.ImageIO.write(out, format, buf)) None
        else Some(buf.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Ids name FILES under an export dir — a separator or ".." would
    * silently write outside the export root. Shared by every id-keyed file
    * sink ([[exportBlobs]], [[exportAviStreams]]).
    */
  private def requireSafeFileName(f: String): Unit =
    require(f != null && f.nonEmpty && !f.contains("/") && !f.contains("\\") &&
      f != "." && f != "..",
      s"container id '$f' is not a safe file name")

  /** File-export sink: write each blob as `dir/<id>.<ext>` — the reference's
    * per-frame JPEG export (`video.py:49-62`) as a DISTRIBUTED sink: each
    * task writes its own partition's files through the Hadoop FS (no driver
    * collect, works against any FS the session is configured for). Null
    * blobs are skipped; null or path-escaping ids fail loudly
    * ([[requireSafeFileName]]). Ids must be unique — last-writer-wins
    * otherwise, exactly like any keyed file sink.
    */
  def exportBlobs(df: DataFrame, idCol: String, blobCol: String,
                  dir: String, ext: String): Unit = {
    val conf = new graft.sources.SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val idIdx = df.schema.fieldIndex(idCol)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.foreachPartition { rows: Iterator[Row] =>
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(conf.value)
      rows.foreach { r =>
        val bytes = r.getAs[Array[Byte]](blobIdx)
        if (bytes != null) {
          require(!r.isNullAt(idIdx), "blob id must not be null")
          requireSafeFileName(String.valueOf(r.get(idIdx)))
          val p = new org.apache.hadoop.fs.Path(dir, s"${r.get(idIdx)}.$ext")
          val out = fs.create(p, true)
          try out.write(bytes) finally out.close()
        }
      }
    }
  }

  /** Distributed VIDEO export: assemble one streaming MJPEG-AVI container
    * per distinct `fileCol` value at `dir/<file>.avi` — [[exportBlobs]] for
    * whole recordings instead of single frames, and the WRITE twin of the
    * `graft-avi` scan (a `videoFrames` read of the export reproduces the
    * input).
    *
    * Scale shape: ONE shuffle keyed on the container id, frames sorted by
    * `frameIndexCol` within partitions; each task streams its containers'
    * frames through an [[graft.sources.AviMjpeg.AviStreamWriter]] over a
    * Hadoop FS stream — memory is ONE frame, containers roll into OpenDML
    * AVIX segments at `segmentBytes`, so a recording's length is unbounded
    * by any in-memory buffer (the fixture-scale `AviMjpeg.build` holds the
    * whole container; this never does). Frame indices must be dense per
    * container (0..n-1): the task verifies order as it streams and fails
    * loudly on a gap or duplicate — a silently dropped frame would shift
    * every later presentation time.
    */
  def exportAviStreams(df: DataFrame, fileCol: String, frameIndexCol: String,
                       jpegCol: String, dir: String,
                       width: Int, height: Int, fps: Double = 50.0,
                       segmentBytes: Long = 1L << 30): Unit = {
    val conf = new graft.sources.SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col(fileCol).cast("string").as("__file"),
        col(frameIndexCol).cast("long").as("__idx"), col(jpegCol).as("__jpeg"))
      .repartition(col("__file"))
      .sortWithinPartitions("__file", "__idx")
      .foreachPartition { rows: Iterator[Row] =>
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf.value)
        var cur: String = null
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var writer: graft.sources.AviMjpeg.AviStreamWriter = null
        var nextIdx = 0L
        def closeCurrent(): Unit = if (writer != null) {
          writer.finish(); out.close()
          writer = null; out = null
        }
        try {
          rows.foreach { r =>
            // explicit null checks: a null FIRST container id equals the
            // `cur = null` sentinel and would skip writer init entirely
            // (then NPE inside writeFrame), and Row.getLong silently turns
            // a null index into 0
            require(!r.isNullAt(0), "container id must not be null")
            require(!r.isNullAt(1), "frame index must not be null")
            require(!r.isNullAt(2), "jpeg payload must not be null — filter " +
              "null-blob rows out before export")
            val f = r.getString(0); val idx = r.getLong(1)
            if (f != cur) {
              closeCurrent()
              cur = f
              requireSafeFileName(f)
              out = fs.create(new org.apache.hadoop.fs.Path(dir, s"$f.avi"), true)
              writer = new graft.sources.AviMjpeg.AviStreamWriter(
                out, width, height, fps, segmentBytes)
              nextIdx = 0L
            }
            require(idx == nextIdx,
              s"container $f expected frame $nextIdx next, got $idx — frame " +
                "indices must be dense 0..n-1 per container")
            writer.writeFrame(r.getAs[Array[Byte]](2))
            nextIdx += 1
          }
          closeCurrent()
        } finally if (out != null) out.close() // failure path: release the FS handle
      }
  }

  /** Synthesize an opaque binary column from any string column — the test/
    * bench harness for the multimodal path in this codec-less container.
    */
  def synthesizeBlobs(df: DataFrame, fromCol: String, blobCol: String = "blob",
                      repeat: Int = 64): DataFrame =
    df.withColumn(blobCol,
      unbase64(base64(encode(repeat_string(col(fromCol), repeat), "UTF-8"))))

  private def repeat_string(c: org.apache.spark.sql.Column, n: Int) =
    concat_ws("", (0 until n).map(_ => c): _*)

  /** 64-bit perceptual dHash of a row-major 8-bit grayscale binary column
    * (see [[graft.expressions.ImageHash]]) — the image-dedup fingerprint;
    * bucket with [[Dedup.hammingNearDup]]. Map-only, codegen'd.
    */
  def dhash64(pixels: org.apache.spark.sql.Column, width: Int,
              height: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.DHash64(
        org.apache.spark.sql.GraftColumnBridge.expression(pixels),
        width, height))

  /** 64-bit energy-envelope fingerprint of little-endian PCM16 audio (see
    * [[graft.expressions.AudioHash]]) — the audio-dedup fingerprint;
    * bucket with [[Dedup.hammingNearDup]]. Map-only, codegen'd.
    */
  def audioEnergyHash64(pcm16le: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.AudioEnergyHash64(
        org.apache.spark.sql.GraftColumnBridge.expression(pcm16le)))

  /** VIDEO near-dup over per-frame 64-bit perceptual hashes (the aligned-
    * frame formulation — near-dup videos share frame STRUCTURE, so frame
    * f compares against frame f): input is one row per (video, frameIdx,
    * frame hash — e.g. [[dhash64]] of the sampled frame); output is every
    * video pair whose SUMMED per-frame Hamming distance ≤
    * `maxTotalHamming` and whose frame counts match.
    *
    * Candidates come from the [[Dedup.hammingNearDup]] banding rule
    * applied PER ALIGNED FRAME — a pair surfaces iff some frame shares a
    * 16-bit band at the same frame index — so a qualifying pair is found
    * whenever any one frame is band-close, and the exact summed gate
    * filters after. Scale shape: |videos|·F·nBands banded rows into ONE
    * shuffle with in-place pair expansion; verification joins each side's
    * per-video hash ARRAY once (video-keyed aggregate, F longs per video)
    * and sums `bit_count(xor)` with `zip_with` — never a per-pair frame
    * explosion.
    */
  def videoNearDup(frames: DataFrame, idCol: String, frameCol: String,
                   hashCol: String, maxTotalHamming: Int,
                   nBands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    require(64 % nBands == 0, "nBands must divide 64")
    require(maxTotalHamming >= 0, "maxTotalHamming must be >= 0")
    val blockBits = 64 / nBands
    val mask = (1L << blockBits) - 1
    val buckets = frames.select(
      struct(col(idCol)).as("__p"), col(frameCol).as("__f"),
      posexplode(array((0 until nBands).map(i =>
        shiftrightunsigned(col(hashCol), i * blockBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "block")))
    val cands = Dedup.pairsWithinGroups(buckets,
        Seq("__f", "band", "block"), col("__p"), maxBucket)
      .select(col("__a")(idCol).as("id_a"), col("__b")(idCol).as("id_b"))
      .distinct()
    val sigs = frames.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col(frameCol).as("f"),
        col(hashCol).as("h")))).as("__sig"))
      .select(col(idCol),
        expr("transform(__sig, s -> s.h)").as("__hs"))
    cands
      .join(sigs.select(col(idCol).as("id_a"), col("__hs").as("__ha")),
        Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("__hs").as("__hb")),
        Seq("id_b"))
      .filter(size(col("__ha")) === size(col("__hb")))
      .select(col("id_a"), col("id_b"),
        expr("""aggregate(zip_with(__ha, __hb, (x, y) -> bit_count(x ^ y)),
                0, (acc, d) -> acc + d)""").as("total_hamming"),
        size(col("__ha")).as("n_frames"))
      .filter(col("total_hamming") <= maxTotalHamming)
  }
}
