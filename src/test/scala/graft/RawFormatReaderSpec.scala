package graft

import java.nio.file.Files

import graft.sources.{AviMjpeg, BronzeIngest}

/** One decode path per raw format: the reader functions are calls into
  * their V2 sources, so the V2 sources' listing rule is theirs too. A path
  * that matches no file fails the read, through the source and through the
  * reader function alike.
  */
class RawFormatReaderSpec extends SparkSpec {

  private def messages(t: Throwable): String =
    if (t == null) "" else t.getMessage + "|" + messages(t.getCause)

  test("a path that matches no file fails the read loudly") {
    val dir = Files.createTempDirectory("graft-unmatched").toString
    val reads: Seq[(String, () => Any)] = Seq(
      "graft-clock" -> (() =>
        spark.read.format("graft-clock").load(dir + "/*.bin").collect()),
      "graft-clock plain path" -> (() =>
        spark.read.format("graft-clock").load(dir + "/absent.bin").collect()),
      "graft-avi" -> (() =>
        spark.read.format("graft-avi").load(dir + "/*.avi").collect()),
      "flatBinaryU64" -> (() =>
        BronzeIngest.flatBinaryU64(spark, dir + "/*Clock*.bin").collect()),
      "videoFrames" -> (() =>
        AviMjpeg.videoFrames(spark, dir + "/*.avi").collect()))
    reads.foreach { case (name, read) =>
      val e = intercept[Exception](read())
      assert(messages(e).contains("matched no files"), s"$name: ${messages(e)}")
    }
    // once a file matches, the same glob reads it (colName renames clock)
    val buf = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(7L).putLong(8L)
    Files.write(java.nio.file.Paths.get(dir, "Dev_Clock_0.bin"), buf.array())
    assert(BronzeIngest.flatBinaryU64(spark, dir + "/*Clock*.bin", "ticks")
      .select("ticks").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
  }

  test("directory expansion skips hidden and underscore entries") {
    val dir = Files.createTempDirectory("graft-hidden")
    val buf = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(1L).putLong(2L)
    Files.write(dir.resolve("c.bin"), buf.array())
    // a checksum sidecar and a commit marker are not clock files
    Files.write(dir.resolve(".c.bin.crc"), Array.fill[Byte](16)(9))
    Files.write(dir.resolve("_SUCCESS"), Array.fill[Byte](8)(9))
    assert(BronzeIngest.flatBinaryU64(spark, dir.toString)
      .select("clock").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }
}
