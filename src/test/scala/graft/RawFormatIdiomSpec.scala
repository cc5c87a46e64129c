package graft

import org.scalatest.funsuite.AnyFunSuite

/** One decode path per raw format, the idiom half: main code decodes zarr,
  * clock u64 and AVI files only in their V2 sources. `binaryFile` appears
  * only in BronzeIngest's two metadata listings (`clockFileStats`, `discoverChunkFiles`), and neither
  * ZarrSource.scala nor AviMjpeg.scala runs a `mapPartitions` decode.
  * Pure file check — no SparkSession needed.
  */
class RawFormatIdiomSpec extends AnyFunSuite {

  private val bronze = "src/main/scala/graft/sources/BronzeIngest.scala"
  private val noDecode = Seq("src/main/scala/graft/sources/ZarrSource.scala",
    "src/main/scala/graft/sources/AviMjpeg.scala")
  private val binaryFile = "\"binaryFile\"".r
  private val mapPartitions = "mapPartitions".r
  /** `binaryFile` loads BronzeIngest may keep: its two metadata listings. */
  private val bronzeListings = 2

  /** (file, matched text) for every `"binaryFile"` outside BronzeIngest (or
    * past its two listings there) and every `mapPartitions` in the
    * decode-free files. */
  def offenders(files: Map[String, String]): Seq[(String, String)] =
    (for {
      (path, text) <- files.toSeq
      m <- binaryFile.findAllIn(text).toSeq
        .drop(if (path == bronze) bronzeListings else 0) ++
        (if (noDecode.contains(path)) mapPartitions.findAllIn(text).toSeq else Nil)
    } yield (path, m)).sorted

  test("checker flags planted second decoders") {
    val planted = Map(
      bronze -> """spark.read.format("binaryFile").load(a)
                  |spark.read.format("binaryFile").load(b)""".stripMargin,
      noDecode.head -> "files.mapPartitions(decode)",
      "src/main/scala/graft/sources/Planted.scala" ->
        """spark.read.format("binaryFile").load(p).mapPartitions(decode)""")
    assert(offenders(planted) == Seq(
      ("src/main/scala/graft/sources/Planted.scala", "\"binaryFile\""),
      (noDecode.head, "mapPartitions")))
    // a third listing in BronzeIngest is one too many
    assert(offenders(Map(bronze -> ("format(\"binaryFile\")\n" * 3))) ==
      Seq((bronze, "\"binaryFile\"")))
  }

  test("raw formats decode only in their V2 sources") {
    val files = MainSources.read()
    (bronze +: noDecode).foreach(f => assert(files.contains(f), s"$f not found"))
    assert(binaryFile.findAllIn(files(bronze)).size == bronzeListings,
      s"$bronze should keep its $bronzeListings metadata listings")
    val bad = offenders(files)
    assert(bad.isEmpty, "raw-format decode outside its V2 source " +
      "(load graft-zarr / graft-clock / graft-avi instead):\n" +
      bad.map { case (f, m) => s"$f: $m" }.mkString("\n"))
  }
}
