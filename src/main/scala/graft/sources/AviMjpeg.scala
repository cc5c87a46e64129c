package graft.sources

import java.io.{DataInputStream, EOFException, InputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** MJPEG-AVI container reader (S7 — the REAL video pixel path).
  *
  * The reference's cameras record AVI files read with OpenCV
  * (`aeon/dj_pipeline/utils/video.py:29-62` `retrieve_video_frames`: load a
  * frame slice, JPEG-encode each frame). An MJPEG AVI is a RIFF container
  * whose video chunks ARE complete JPEG images, so the JDK alone can do the
  * whole job: this walker parses the RIFF structure (pure byte plumbing) and
  * `javax.imageio.ImageIO` decodes the extracted frames — no native codec.
  *
  * Scale discipline:
  *  - the walker is STREAMING: it reads chunk headers (8 bytes each) and
  *    `skip()`s unsampled frame payloads, so sampling every Nth frame costs
  *    8 bytes per skipped frame, not the payload;
  *  - [[videoFrames]] (the `graft-avi` scan) opens each file as a Hadoop
  *    FS stream inside a task — a file is never materialized whole, memory
  *    is bounded by one frame;
  *  - per-file frame caps bound task output exactly like
  *    [[graft.operators.Multimodal.sampleFrames]].
  *
  * AVI 1.0 plus OpenDML continuations: frames past the 1 GiB AVI 1.0
  * boundary live in `RIFF('AVIX')` segments appended after the first — the
  * walker descends into them like any other container, so long recordings
  * stream through with the same per-frame memory bound.
  */
object AviMjpeg {

  /** Container metadata from the `avih` main header: true pixel dimensions,
    * frame interval, and the header's declared frame count (the walker also
    * counts real video chunks — trust those over the header).
    */
  final case class AviInfo(width: Int, height: Int, microSecPerFrame: Long,
                           totalFrames: Long)

  /** One sampled frame: ordinal within the video stream + raw JPEG bytes. */
  final case class AviFrame(index: Long, jpeg: Array[Byte])

  /** RIFF/AVI magic sniff — mirrors [[graft.operators.Multimodal.isImage]]:
    * bytes 0-3 "RIFF", bytes 8-11 "AVI ".
    */
  def isAvi(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '

  /** Guard against a corrupt header walking the task into a multi-GiB
    * allocation: one MJPEG frame is KBs–MBs; anything past this is a
    * malformed size field and the parse stops.
    */
  private val MaxFrameBytes: Long = 64L << 20

  private def readU32LE(in: DataInputStream): Long = {
    val b0 = in.read(); val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
    if ((b0 | b1 | b2 | b3) < 0) throw new EOFException()
    (b0.toLong) | (b1.toLong << 8) | (b2.toLong << 16) | (b3.toLong << 24)
  }

  private def readFourCC(in: DataInputStream): String = {
    val b = new Array[Byte](4)
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.US_ASCII)
  }

  private def skipFully(in: DataInputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0) throw new EOFException() else left -= 1
    }
  }

  /** Walk one AVI to the end (or to `maxFrames`), collecting `avih`
    * metadata and every `everyNth`-th video chunk — the eager form of
    * [[frameIterator]], on the same walk. Closes `raw`. Returns None when
    * the stream is not an AVI.
    *
    * `totalFrames` is exact when the walk reaches the end of the stream;
    * an early stop (frame cap hit) trusts the header's declared count. A
    * container that turns corrupt mid-walk yields the frames before the
    * corruption, as in [[frameIterator]].
    *
    * `withPayload = false` records sampled frame INDICES but skips every
    * payload (jpeg = null): the whole walk touches only 8-byte chunk
    * headers — the column-pruned scan shape for metadata-only queries.
    */
  def parse(raw: InputStream, everyNth: Int = 1,
            maxFrames: Int = Int.MaxValue,
            withPayload: Boolean = true): Option[(AviInfo, Vector[AviFrame])] =
    try walk(raw, everyNth, maxFrames, withPayload, Long.MaxValue).map { w =>
      val frames = w.toVector
      (w.info.copy(totalFrames =
        if (w.reachedEof || w.headerFrames == 0) w.videoChunks else w.headerFrames),
        frames)
    } finally raw.close()

  /** The one RIFF walk behind [[parse]] and [[frameIterator]]: pull-based —
    * each `hasNext` advances the walk to the next sampled video chunk, so
    * live memory is ONE frame no matter what `maxFrames` is. LISTs (`hdrl`,
    * `movi`, nested `rec `) and OpenDML `RIFF('AVIX')` continuation segments
    * are entered, not skipped, so the walk is a single linear pass;
    * everything else (`idx1`, `strh`, `JUNK`, audio `##wb`) is skipped by
    * size. Header fields populate as `hdrl` is walked (before the first
    * frame in a conformant container). A stream that turns corrupt mid-walk
    * ends the iteration at the frames already yielded (per-file P5
    * discipline: a bad tail means fewer rows, not a task kill).
    */
  private final class FrameWalk(in: DataInputStream, everyNth: Int,
                                maxFrames: Int, withPayload: Boolean,
                                maxIndex: Long)
      extends Iterator[AviFrame] {
    var width = 0; var height = 0
    var usPerFrame = 0L; var headerFrames = 0L
    /** Video chunks walked so far, sampled or not. */
    var videoChunks = 0L
    /** True once the walk hit the end of the stream (not a cap or bound). */
    var reachedEof = false
    private var collected = 0
    private var done = false
    private var pending: AviFrame = null

    def info: AviInfo = AviInfo(width, height, usPerFrame, headerFrames)

    private def step(): Unit =
      try {
        while (pending == null && !done) {
          if (collected >= maxFrames || videoChunks > maxIndex) done = true
          else {
            val id = readFourCC(in)
            val size = readU32LE(in)
            val padded = size + (size & 1) // chunks are word-aligned
            id match {
              case "LIST" | "RIFF" =>
                readFourCC(in) // descend into hdrl/movi/rec /AVIX segments
              case "avih" =>
                // dwMicroSecPerFrame, 3 skipped u32s, dwTotalFrames, 2 skipped,
                // 1 skipped, dwWidth, dwHeight (avih is ≥ 40 bytes by spec)
                usPerFrame = readU32LE(in)
                skipFully(in, 12)
                headerFrames = readU32LE(in)
                skipFully(in, 12)
                width = readU32LE(in).toInt
                height = readU32LE(in).toInt
                skipFully(in, padded - 40)
              case _ if id(0).isDigit && id(1).isDigit &&
                        id(2) == 'd' && (id(3) == 'c' || id(3) == 'b') =>
                val take = videoChunks % everyNth == 0 && collected < maxFrames
                if (take && size > 0 && size <= MaxFrameBytes) {
                  if (withPayload) {
                    val buf = new Array[Byte](size.toInt)
                    in.readFully(buf)
                    pending = AviFrame(videoChunks, buf)
                    skipFully(in, padded - size)
                  } else {
                    pending = AviFrame(videoChunks, null)
                    skipFully(in, padded)
                  }
                  collected += 1
                } else skipFully(in, padded)
                videoChunks += 1
              case _ =>
                skipFully(in, padded)
            }
          }
        }
      } catch {
        case _: EOFException => reachedEof = true; done = true
        case scala.util.control.NonFatal(_) => done = true
      }

    override def hasNext: Boolean = {
      if (pending == null && !done) step()
      pending != null
    }
    override def next(): AviFrame = {
      if (!hasNext) throw new NoSuchElementException("frame walk exhausted")
      val f = pending; pending = null; f
    }
  }

  /** Lazy form of [[parse]] — header info plus a ONE-PASS iterator of
    * sampled frames, with live memory bounded by a single frame (the eager
    * [[parse]] buffers up to `maxFrames` × frame size; this never does).
    * The CALLER owns `raw`: keep it open until the iterator is exhausted,
    * then close it. `info.totalFrames` here is the header's DECLARED count
    * (exact counting needs a full walk — that is [[parse]]'s job); the
    * row-producing consumer (`graft-avi`) never reads it.
    * Returns None when the stream is not an AVI.
    *
    * `maxIndex` is the pushed-down upper bound on `frame_index` (from a
    * `frame_index <= N` predicate): the walk STOPS — stops reading the
    * stream entirely, not just stops emitting — once the chunk counter
    * passes it, so a bound of 10 on a million-frame recording costs 11
    * chunk headers of IO.
    */
  def frameIterator(raw: InputStream, everyNth: Int = 1,
                    maxFrames: Int = Int.MaxValue,
                    withPayload: Boolean = true,
                    maxIndex: Long = Long.MaxValue): Option[(AviInfo, Iterator[AviFrame])] =
    walk(raw, everyNth, maxFrames, withPayload, maxIndex).map { w =>
      w.hasNext // prime through hdrl so the info fields are populated
      (w.info, w)
    }

  /** Check the RIFF/AVI magic and start a [[FrameWalk]] after it; None when
    * the stream is not an AVI. */
  private def walk(raw: InputStream, everyNth: Int, maxFrames: Int,
                   withPayload: Boolean, maxIndex: Long): Option[FrameWalk] = {
    require(everyNth > 0 && maxFrames > 0)
    val in = new DataInputStream(raw)
    try {
      if (readFourCC(in) != "RIFF") return None
      readU32LE(in) // RIFF size — EOF terminates the walk instead
      if (readFourCC(in) != "AVI ") return None
      Some(new FrameWalk(in, everyNth, maxFrames, withPayload, maxIndex))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Blob-column convenience: parse an in-memory AVI payload. */
  def parseBytes(bytes: Array[Byte], everyNth: Int = 1,
                 maxFrames: Int = Int.MaxValue): Option[(AviInfo, Vector[AviFrame])] =
    if (!isAvi(bytes)) None
    else parse(new java.io.ByteArrayInputStream(bytes), everyNth, maxFrames)

  private def writeU32LE(out: java.io.OutputStream, v: Long): Unit = {
    out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
    out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
  }

  private def writeFourCC(out: java.io.OutputStream, s: String): Unit =
    out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  private def writeChunk(out: java.io.OutputStream, id: String,
                         body: Array[Byte]): Unit = {
    writeFourCC(out, id); writeU32LE(out, body.length.toLong)
    out.write(body)
    if ((body.length & 1) == 1) out.write(0) // word alignment pad
  }

  /** LIST-hdrl body (avih + strl(strh vids/MJPG, strf BITMAPINFOHEADER)) —
    * all fixed-size structures, shared by [[build]] (exact counts, indexed)
    * and [[AviStreamWriter]] (counts unknown up front: totalFrames=0 means
    * "count by walking", the contract [[parse]] already implements for a
    * walk that reaches EOF).
    */
  private def hdrlBody(width: Int, height: Int, fps: Double,
                       totalFrames: Long, maxFrame: Long,
                       flags: Long): Array[Byte] = {
    val usPerFrame = math.round(1e6 / fps)

    val avih = new java.io.ByteArrayOutputStream()
    writeU32LE(avih, usPerFrame); writeU32LE(avih, 0L); writeU32LE(avih, 0L)
    writeU32LE(avih, flags)
    writeU32LE(avih, totalFrames); writeU32LE(avih, 0L)
    writeU32LE(avih, 1L) // one stream
    writeU32LE(avih, maxFrame)
    writeU32LE(avih, width.toLong); writeU32LE(avih, height.toLong)
    (0 until 4).foreach(_ => writeU32LE(avih, 0L)) // dwReserved[4]

    val strh = new java.io.ByteArrayOutputStream()
    writeFourCC(strh, "vids"); writeFourCC(strh, "MJPG")
    writeU32LE(strh, 0L); writeU32LE(strh, 0L) // flags, prio+lang
    writeU32LE(strh, 0L) // initial frames
    writeU32LE(strh, 1000000L) // scale
    writeU32LE(strh, math.round(fps * 1000000)) // rate: fps = rate/scale
    writeU32LE(strh, 0L); writeU32LE(strh, totalFrames) // start, length
    writeU32LE(strh, maxFrame); writeU32LE(strh, 10000L) // bufsize, quality
    writeU32LE(strh, 0L) // sample size
    writeU32LE(strh, 0L); writeU32LE(strh, (height.toLong << 16) | width.toLong) // rcFrame

    val strf = new java.io.ByteArrayOutputStream()
    writeU32LE(strf, 40L); writeU32LE(strf, width.toLong); writeU32LE(strf, height.toLong)
    writeU32LE(strf, (24L << 16) | 1L) // planes=1, bitcount=24
    writeFourCC(strf, "MJPG"); writeU32LE(strf, width.toLong * height * 3)
    (0 until 4).foreach(_ => writeU32LE(strf, 0L))

    val strl = new java.io.ByteArrayOutputStream()
    writeFourCC(strl, "strl")
    writeChunk(strl, "strh", strh.toByteArray)
    writeChunk(strl, "strf", strf.toByteArray)

    val hdrl = new java.io.ByteArrayOutputStream()
    writeFourCC(hdrl, "hdrl")
    writeChunk(hdrl, "avih", avih.toByteArray)
    writeChunk(hdrl, "LIST", strl.toByteArray)
    hdrl.toByteArray
  }

  /** Build a minimal standards-shaped MJPEG AVI (RIFF → hdrl(avih, strl(strh
    * vids/MJPG, strf BITMAPINFOHEADER)) → movi(`00dc` JPEG chunks) → idx1).
    * The write twin of [[parse]]: the per-frame JPEG export sink
    * (`video.py:49-62`) lifted to a whole-container writer, and the fixture
    * generator for round-trip specs. Frames must be complete JPEG payloads.
    */
  def build(frames: Seq[Array[Byte]], width: Int, height: Int,
            fps: Double = 50.0): Array[Byte] = {
    require(fps > 0 && width > 0 && height > 0)
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val hdrl = hdrlBody(width, height, fps, frames.length.toLong,
      maxFrame.toLong, flags = 0x10L) // AVIF_HASINDEX

    val movi = new java.io.ByteArrayOutputStream()
    writeFourCC(movi, "movi")
    val offsets = frames.map { f =>
      val off = movi.size() - 4 // offset of chunk id relative to movi data
      writeChunk(movi, "00dc", f)
      off
    }

    val idx1 = new java.io.ByteArrayOutputStream()
    frames.zip(offsets).foreach { case (f, off) =>
      writeFourCC(idx1, "00dc"); writeU32LE(idx1, 0x10L) // AVIIF_KEYFRAME
      writeU32LE(idx1, off.toLong + 4); writeU32LE(idx1, f.length.toLong)
    }

    val riff = new java.io.ByteArrayOutputStream()
    writeFourCC(riff, "AVI ")
    writeChunk(riff, "LIST", hdrl)
    writeChunk(riff, "LIST", movi.toByteArray)
    writeChunk(riff, "idx1", idx1.toByteArray)

    val out = new java.io.ByteArrayOutputStream()
    writeChunk(out, "RIFF", riff.toByteArray)
    out.toByteArray
  }

  /** Build an OpenDML `RIFF('AVIX')` continuation segment holding more
    * frames — appended verbatim after [[build]]'s output (or a previous
    * continuation) to extend a recording past the AVI 1.0 segment boundary.
    */
  def buildAvixSegment(frames: Seq[Array[Byte]]): Array[Byte] = {
    val movi = new java.io.ByteArrayOutputStream()
    writeFourCC(movi, "movi")
    frames.foreach(f => writeChunk(movi, "00dc", f))
    val riff = new java.io.ByteArrayOutputStream()
    writeFourCC(riff, "AVIX")
    writeChunk(riff, "LIST", movi.toByteArray)
    val out = new java.io.ByteArrayOutputStream()
    writeChunk(out, "RIFF", riff.toByteArray)
    out.toByteArray
  }

  /** Streaming MJPEG-AVI writer — the bounded-memory export twin of
    * [[build]]. [[build]] assembles the whole container in driver memory
    * (fixture scale); a real camera export (the reference's hour-long
    * 50 fps recordings, `video.py:49-62` lifted to containers) cannot.
    * This writer appends frames one at a time through a forward-only
    * `OutputStream`, holding at most the frame being written:
    *
    *  - fixed-size header structures (avih/strh/strf) are exact;
    *  - RIFF and movi sizes cannot be known in a forward-only stream, so
    *    they carry the streaming-AVI `0xFFFFFFFF` ("grows to EOF")
    *    convention, `dwTotalFrames` = 0 ("count by walking"), and no idx1
    *    — exactly the profile [[parse]]/[[frameIterator]] already handle:
    *    the walker never trusts container sizes and counts a
    *    walked-to-EOF stream itself;
    *  - when the current segment reaches `segmentBytes` (the AVI 1.0 1 GiB
    *    compatibility boundary by default), the frame stream rolls into an
    *    OpenDML `RIFF('AVIX')` continuation — [[buildAvixSegment]]'s
    *    layout, emitted incrementally.
    *
    * Call [[finish]] when done (flushes; the caller owns/closes `out`).
    */
  final class AviStreamWriter(out: java.io.OutputStream,
                              width: Int, height: Int, fps: Double = 50.0,
                              segmentBytes: Long = 1L << 30) {
    require(fps > 0 && width > 0 && height > 0 && segmentBytes > 0)
    private val SizeUnknown = 0xFFFFFFFFL
    private var started = false
    private var segBytes = 0L
    private var frames = 0L
    private var finished = false

    /** Frames written so far (continuous across segment rolls). */
    def framesWritten: Long = frames

    private def openFirstSegment(): Unit = {
      writeFourCC(out, "RIFF"); writeU32LE(out, SizeUnknown)
      writeFourCC(out, "AVI ")
      writeChunk(out, "LIST",
        hdrlBody(width, height, fps, totalFrames = 0L, maxFrame = 0L, flags = 0L))
      writeFourCC(out, "LIST"); writeU32LE(out, SizeUnknown)
      writeFourCC(out, "movi")
      segBytes = 0L
    }

    private def openAvixSegment(): Unit = {
      writeFourCC(out, "RIFF"); writeU32LE(out, SizeUnknown)
      writeFourCC(out, "AVIX")
      writeFourCC(out, "LIST"); writeU32LE(out, SizeUnknown)
      writeFourCC(out, "movi")
      segBytes = 0L
    }

    def writeFrame(jpeg: Array[Byte]): Unit = {
      require(!finished, "writer already finished")
      val cost = 8L + jpeg.length + (jpeg.length & 1)
      if (!started) { openFirstSegment(); started = true }
      else if (segBytes + cost > segmentBytes && segBytes > 0) openAvixSegment()
      writeChunk(out, "00dc", jpeg)
      segBytes += cost
      frames += 1
    }

    def finish(): Unit = {
      require(!finished, "writer already finished")
      if (!started) openFirstSegment() // an empty container is still an AVI
      finished = true
      out.flush()
    }
  }

  /** Output schema of [[videoFrames]]: one row per sampled frame with its
    * presentation time derived from the container frame interval.
    */
  val frameSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps", DoubleType, nullable = true),
    StructField("frame_index", LongType, nullable = false),
    StructField("frame_time_sec", DoubleType, nullable = true),
    StructField("frame_jpeg", BinaryType, nullable = false)))

  /** Distributed frame extraction over a directory of MJPEG-AVI files — the
    * reference's `retrieve_video_frames` slice as one scan. Loads the
    * `graft-avi` V2 source ([[AviFrameSource]]) with `everyNth` and
    * `maxFrames = maxFramesPerFile`: each task walks its files LAZILY
    * ([[frameIterator]]), so live memory per task is ONE frame — not
    * `maxFramesPerFile` × frame size — and every `everyNth` stride costs
    * only chunk-header reads on the skipped frames.
    *
    * Non-AVI files yield zero rows; a file that turns corrupt mid-walk
    * yields the frames before the corruption (P5 discipline is per-file
    * here: a bad file is observable via an anti-join against the listing).
    * A path that matches no file fails the scan.
    */
  def videoFrames(spark: SparkSession, pathGlob: String, everyNth: Int = 1,
                  maxFramesPerFile: Int = 64): DataFrame =
    spark.read.format("graft-avi")
      .option("everyNth", everyNth.toString)
      .option("maxFrames", maxFramesPerFile.toString)
      .load(pathGlob)
}
