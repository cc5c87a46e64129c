package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.AviMjpeg

class AviMjpegSpec extends SparkSpec {
  import spark.implicits._

  private def jpegFrame(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpg writer")
    bos.toByteArray
  }

  private def testAvi(nFrames: Int, w: Int = 32, h: Int = 16,
                      fps: Double = 50.0): Array[Byte] =
    AviMjpeg.build((0 until nFrames).map(i => jpegFrame(w, h, i * 0x010101)),
      w, h, fps)

  test("build → parse round trip: header metadata and every frame decodable") {
    val avi = testAvi(nFrames = 9, w = 40, h = 24, fps = 25.0)
    assert(AviMjpeg.isAvi(avi))

    val (info, frames) = AviMjpeg.parseBytes(avi).get
    assert(info.width == 40 && info.height == 24)
    assert(info.totalFrames == 9)
    assert(math.abs(1e6 / info.microSecPerFrame - 25.0) < 0.01)
    assert(frames.length == 9)
    assert(frames.map(_.index) == (0L until 9L).toVector)
    frames.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.jpeg))
      assert(img != null && img.getWidth == 40 && img.getHeight == 24,
        "each MJPEG chunk is a complete ImageIO-decodable JPEG")
    }
  }

  test("parse samples every Nth frame and respects the frame cap") {
    val avi = testAvi(nFrames = 20)
    val (_, sampled) = AviMjpeg.parseBytes(avi, everyNth = 7).get
    assert(sampled.map(_.index) == Vector(0L, 7L, 14L))

    val (infoCapped, capped) = AviMjpeg.parseBytes(avi, everyNth = 1, maxFrames = 4).get
    assert(capped.map(_.index) == Vector(0L, 1L, 2L, 3L))
    // early stop trusts the avih header's declared count
    assert(infoCapped.totalFrames == 20)
  }

  test("OpenDML AVIX continuation segments extend the frame stream") {
    // 4 frames in the AVI 1.0 segment + 3 more in a RIFF('AVIX') continuation
    val seg1 = testAvi(nFrames = 4, w = 24, h = 12)
    val avix = AviMjpeg.buildAvixSegment(
      (4 until 7).map(i => jpegFrame(24, 12, i * 0x030201)))
    val full = seg1 ++ avix

    val (info, frames) = AviMjpeg.parseBytes(full).get
    assert(info.width == 24 && info.height == 12)
    assert(frames.map(_.index) == (0L until 7L).toVector,
      "frames continue across the segment boundary")
    assert(info.totalFrames == 7)
    frames.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.jpeg))
      assert(img != null && img.getWidth == 24)
    }
    // stride sampling crosses the boundary too
    val (_, strided) = AviMjpeg.parseBytes(full, everyNth = 3).get
    assert(strided.map(_.index) == Vector(0L, 3L, 6L))
  }

  test("frameIterator streams the same frames as the eager parse, one at a time") {
    val avi = testAvi(nFrames = 12, w = 24, h = 12)
    val (eagerInfo, eager) = AviMjpeg.parseBytes(avi, everyNth = 3).get

    val (info, it) = AviMjpeg.frameIterator(
      new java.io.ByteArrayInputStream(avi), everyNth = 3).get
    assert(info.width == eagerInfo.width && info.height == eagerInfo.height)
    assert(info.microSecPerFrame == eagerInfo.microSecPerFrame)
    val lazyFrames = it.toVector
    assert(lazyFrames.map(_.index) == eager.map(_.index))
    lazyFrames.zip(eager).foreach { case (l, e) =>
      assert(java.util.Arrays.equals(l.jpeg, e.jpeg))
    }

    // a container that turns corrupt mid-walk yields the frames before the
    // corruption instead of killing the consumer
    val truncated = avi.take(avi.length / 2)
    AviMjpeg.frameIterator(new java.io.ByteArrayInputStream(truncated))
      .foreach { case (_, frames) =>
        frames.foreach(f => assert(f.jpeg != null)) // drains without throwing
      }
  }

  test("parse rejects non-AVI and survives corrupt containers") {
    assert(AviMjpeg.parseBytes("not riff at all".getBytes("UTF-8")).isEmpty)
    // valid magic, garbage body: parse must not throw
    val garbage = "RIFF0000AVI then chaos".getBytes("UTF-8")
    AviMjpeg.parseBytes(garbage) // must not throw; content-dependent result
  }

  test("videoFrames streams sampled frames from files without loading them whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avi").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cam0_2024-01-01T00-00-00.avi"),
      testAvi(nFrames = 12, w = 32, h = 16, fps = 50.0))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cam1_2024-01-01T00-00-00.avi"),
      testAvi(nFrames = 5, w = 64, h = 48, fps = 10.0))
    // a non-AVI straggler in the same directory yields zero rows, not a crash
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "notes.txt"), "hello".getBytes("UTF-8"))

    val out = AviMjpeg.videoFrames(spark, dir + "/*", everyNth = 5,
      maxFramesPerFile = 8)
    val rows = out.orderBy("file", "frame_index").collect()

    val cam0 = rows.filter(_.getString(0).contains("cam0"))
    assert(cam0.map(_.getLong(4)).toSeq == Seq(0L, 5L, 10L))
    assert(cam0.forall(r => r.getInt(1) == 32 && r.getInt(2) == 16))
    assert(math.abs(cam0.head.getDouble(3) - 50.0) < 0.01)
    // frame_time_sec = index / fps
    assert(math.abs(cam0.last.getDouble(5) - 10.0 / 50.0) < 1e-6)

    val cam1 = rows.filter(_.getString(0).contains("cam1"))
    assert(cam1.map(_.getLong(4)).toSeq == Seq(0L))
    assert(cam1.forall(r => r.getInt(1) == 64 && r.getInt(2) == 48))

    rows.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](6)))
      assert(img != null && img.getWidth == r.getInt(1))
    }
  }

  test("graft-avi V2 source: scan equivalence and payload-skipping column pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avi-v2").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cam0.avi"),
      testAvi(nFrames = 12, w = 32, h = 16, fps = 50.0))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cam1.avi"),
      testAvi(nFrames = 5, w = 64, h = 48, fps = 10.0))

    val v2 = spark.read.format("graft-avi")
      .option("everyNth", "5").option("maxFrames", "8").load(dir + "/*")
    // full-schema read matches the frames the spec wrote, row for row:
    // every 5th of cam0's 12 frames and of cam1's 5
    val viaV2 = v2.select("file", "width", "height", "frame_index")
      .orderBy("file", "frame_index").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(viaV2.toSeq == Seq(("cam0.avi", 32, 16, 0L), ("cam0.avi", 32, 16, 5L),
      ("cam0.avi", 32, 16, 10L), ("cam1.avi", 64, 48, 0L)))
    // payload is real when selected
    val jpegs = v2.select("frame_jpeg").collect()
    assert(jpegs.nonEmpty && jpegs.forall { r =>
      val b = r.getAs[Array[Byte]](0); (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8
    })

    // metadata-only projection: the scan itself reports headers-only mode —
    // no frame payload byte is read for fps/count audits
    val pruned = v2.select("file", "frame_index", "fps")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("HEADERS-ONLY"),
      s"pruned scan should walk chunk headers only:\n$planStr")
    assert(pruned.count() == 4) // 3 sampled frames (cam0) + 1 (cam1)
    // and the full read does NOT claim headers-only
    assert(!v2.select("frame_jpeg").queryExecution.executedPlan.toString
      .contains("HEADERS-ONLY"))
  }

  test("AviStreamWriter: multi-segment streaming container round-trips with O(frame) memory") {
    val frames = (0 until 11).map(i => jpegFrame(24, 12, i * 0x070503))
    val frameCost = frames.map(f => 8L + f.length + (f.length % 2)).max

    val bos = new java.io.ByteArrayOutputStream()
    // segment budget fits ~3 frames → 11 frames must roll into ≥3 segments
    val w = new AviMjpeg.AviStreamWriter(bos, 24, 12, fps = 25.0,
      segmentBytes = frameCost * 3)
    frames.foreach(w.writeFrame)
    w.finish()
    assert(w.framesWritten == 11)
    val streamed = bos.toByteArray

    // >2 OpenDML continuation segments were actually emitted
    def countRiff(b: Array[Byte]): Int =
      b.sliding(4).count(_.sameElements("RIFF".getBytes("US-ASCII")))
    assert(countRiff(streamed) >= 3,
      s"expected >=3 RIFF segments, found ${countRiff(streamed)}")

    // the walker round-trips the streaming profile exactly: every frame, in
    // order, byte-identical, with the header's declared metadata
    val (info, parsed) = AviMjpeg.parseBytes(streamed).get
    assert(info.width == 24 && info.height == 12)
    assert(math.abs(1e6 / info.microSecPerFrame - 25.0) < 0.01)
    assert(info.totalFrames == 11, "walk-to-EOF counts the streamed frames")
    assert(parsed.map(_.index) == (0L until 11L).toVector)
    parsed.zip(frames).foreach { case (p, f) =>
      assert(java.util.Arrays.equals(p.jpeg, f))
    }

    // the V2 source reads a streamed file like any other
    val dir = java.nio.file.Files.createTempDirectory("graft-avi-stream").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "streamed.avi"), streamed)
    val viaV2 = spark.read.format("graft-avi").option("maxFrames", "100")
      .load(dir + "/*").select("frame_index").collect().map(_.getLong(0)).sorted
    assert(viaV2.toSeq == (0L until 11L))
  }

  test("exportAviStreams writes one multi-segment container per key, round-trips via graft-avi") {
    val dir = java.nio.file.Files.createTempDirectory("avi-export").toString
    val frames = (for {
      cam <- Seq("cam0", "cam1")
      i <- 0 until (if (cam == "cam0") 7 else 3)
    } yield (cam, i.toLong, jpegFrame(24, 12, i * 0x090205))).toDF(
      "camera", "frame_index", "jpeg")

    // tiny segment budget: cam0's 7 frames must roll into multiple AVIX
    // segments; the export is still one file per camera
    Multimodal.exportAviStreams(frames.repartition(5), "camera", "frame_index",
      "jpeg", dir, width = 24, height = 12, fps = 25.0, segmentBytes = 2048)

    val names = new java.io.File(dir).list().filter(_.endsWith(".avi")).sorted
    assert(names.toSeq == Seq("cam0.avi", "cam1.avi"))

    val back = spark.read.format("graft-avi").option("maxFrames", "100")
      .load(dir + "/*.avi")
      .select("file", "frame_index", "frame_jpeg").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1),
        r.getAs[Array[Byte]](2)))
    assert(back.count(_._1 == "cam0.avi") == 7)
    assert(back.count(_._1 == "cam1.avi") == 3)
    val expected = frames.collect().map(r =>
      (r.getString(0) + ".avi", r.getLong(1), r.getAs[Array[Byte]](2))).toSeq
    back.foreach { case (f, i, jpeg) =>
      val e = expected.find(e => e._1 == f && e._2 == i).get
      assert(java.util.Arrays.equals(jpeg, e._3), s"$f frame $i payload differs")
    }

    // a gap in the frame indices fails the export loudly
    val gappy = Seq(("camX", 0L, jpegFrame(24, 12, 1)),
      ("camX", 2L, jpegFrame(24, 12, 2))).toDF("camera", "frame_index", "jpeg")
    val ex = intercept[Exception] {
      Multimodal.exportAviStreams(gappy, "camera", "frame_index", "jpeg",
        java.nio.file.Files.createTempDirectory("avi-export-bad").toString,
        24, 12)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + messages(t.getCause)
    assert(messages(ex).contains("dense"))

    // a container id that would escape the export dir fails loudly
    val escapey = Seq(("../pwn", 0L, jpegFrame(24, 12, 3)))
      .toDF("camera", "frame_index", "jpeg")
    val ex2 = intercept[Exception] {
      Multimodal.exportAviStreams(escapey, "camera", "frame_index", "jpeg",
        java.nio.file.Files.createTempDirectory("avi-export-esc").toString,
        24, 12)
    }
    assert(messages(ex2).contains("safe file name"))

    // a NULL container id must fail with the designed message, not slip past
    // the `cur = null` sentinel into an NPE inside the writer
    val nullId = Seq((null.asInstanceOf[String], 0L, jpegFrame(24, 12, 4)))
      .toDF("camera", "frame_index", "jpeg")
    val ex3 = intercept[Exception] {
      Multimodal.exportAviStreams(nullId, "camera", "frame_index", "jpeg",
        java.nio.file.Files.createTempDirectory("avi-export-null").toString,
        24, 12)
    }
    assert(messages(ex3).contains("container id must not be null"))

    // and a null payload names the remedy instead of NPEing mid-container
    val nullJpeg = Seq(("camY", 0L, null.asInstanceOf[Array[Byte]]))
      .toDF("camera", "frame_index", "jpeg")
    val ex4 = intercept[Exception] {
      Multimodal.exportAviStreams(nullJpeg, "camera", "frame_index", "jpeg",
        java.nio.file.Files.createTempDirectory("avi-export-nullp").toString,
        24, 12)
    }
    assert(messages(ex4).contains("null-blob rows"))
  }

  test("frame_index upper bounds stop the walk early, in bytes read") {
    val avi = testAvi(nFrames = 50, w = 32, h = 16)
    final class CountingStream(b: Array[Byte]) extends java.io.ByteArrayInputStream(b) {
      def consumed: Int = pos
    }

    val full = new CountingStream(avi)
    AviMjpeg.frameIterator(full).get._2.foreach(_ => ())
    val fullBytes = full.consumed

    val bounded = new CountingStream(avi)
    val (_, it) = AviMjpeg.frameIterator(bounded, maxIndex = 2L).get
    assert(it.map(_.index).toVector == Vector(0L, 1L, 2L))
    assert(bounded.consumed < fullBytes / 4,
      s"bounded walk read ${bounded.consumed} of $fullBytes bytes — " +
        "should stop after 3 frames of a 50-frame container")
  }

  test("graft-avi pushes frame_index bounds into the walker stop condition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avi-push").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "cam.avi"), testAvi(nFrames = 30))

    val v2 = spark.read.format("graft-avi")
      .option("maxFrames", "1000").load(dir + "/*")
    val sliced = v2.filter(col("frame_index") <= 4)
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("frame_idx<=4"), s"bound not pushed:\n$plan")
    assert(sliced.select("frame_index").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 4L))

    // strict < and equality also bound the walk; rows still exact
    assert(v2.filter(col("frame_index") < 3).count() == 3)
    val eq = v2.filter(col("frame_index") === 7)
    assert(eq.queryExecution.executedPlan.toString.contains("frame_idx<=7"))
    assert(eq.select("frame_index").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("sampled frame_jpeg payloads are byte-identical to the written fixture") {
    // backstop for q95's header-surface oracle: the payload bytes themselves
    // round-trip the container untouched
    val frames = (0 until 10).map(i => jpegFrame(32, 16, i * 0x050301))
    val avi = AviMjpeg.build(frames, 32, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-avi-pin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "pin.avi"), avi)

    val sampled = spark.read.format("graft-avi")
      .option("everyNth", "3").load(dir + "/*")
      .select("frame_index", "frame_jpeg").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(sampled.keySet == Set(0L, 3L, 6L, 9L))
    sampled.foreach { case (idx, jpeg) =>
      assert(java.util.Arrays.equals(jpeg, frames(idx.toInt)),
        s"frame $idx bytes differ from the fixture JPEG")
    }
  }

  test("extractFeatures dispatches AVI blobs to the real container decode") {
    val whiteAvi = AviMjpeg.build(
      Seq(jpegFrame(30, 20, 0xFFFFFF), jpegFrame(30, 20, 0x000000)), 30, 20)
    val df = Seq((1L, whiteAvi)).toDF("id", "blob")
    val r = Multimodal.extractFeatures(df, "blob", dim = 8).head()
    assert(r.getAs[Int]("width") == 30 && r.getAs[Int]("height") == 20,
      "dims come from the avih container header")
    val feats = r.getSeq[Float](r.fieldIndex("features"))
    // histogram of the FIRST frame (all white → all mass in the top bucket,
    // modulo JPEG ringing at the 8x8 block edges)
    assert(feats.sum > 0.999f && feats.last > 0.9f)
  }

  test("sampleAviFrames emits real JPEG frames for AVI blobs, nothing for others") {
    val df = Seq(
      (1L, testAvi(nFrames = 10, w = 32, h = 16)),
      (2L, "opaque audio-ish bytes".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "blob")
    val frames = Multimodal.sampleAviFrames(df, "blob", Seq("id"),
      everyNth = 4, maxFrames = 8)
    val rows = frames.orderBy("id", "frame_index").collect()
    assert(rows.map(_.getLong(0)).distinct.toSeq == Seq(1L),
      "non-AVI and null blobs contribute no frames")
    assert(rows.map(_.getLong(3)).toSeq == Seq(0L, 4L, 8L))
    rows.foreach { r =>
      val b = r.getAs[Array[Byte]](4)
      assert((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8, "JPEG magic")
    }
  }
}
