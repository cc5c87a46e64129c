package graft

import org.scalatest.funsuite.AnyFunSuite

/** One rule, one place: the file-stream drain skeleton (file source, the
  * per-trigger file cap, the `AvailableNow` trigger, the checkpoint) lives
  * in `StreamOps.drainFiles` alone. A drain that hand-rolls its own
  * `readStream` chain again fails this spec, in the CoverageLedgerSpec
  * style of reading the repo's files.
  *
  * Pure file check — no SparkSession needed.
  */
class DrainSkeletonSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/streaming/StreamOps.scala"
  private val tokens = Seq("readStream", "Trigger.AvailableNow",
    "\"maxFilesPerTrigger\"", "\"checkpointLocation\"")

  /** (file, token) for every main source file other than `owner` that
    * names one of the skeleton's tokens. */
  def offenders(files: Map[String, String]): Seq[(String, String)] =
    (for {
      (path, text) <- files.toSeq if path != owner
      t <- tokens if text.contains(t)
    } yield (path, t)).sorted

  test("checker flags a planted hand-rolled drain") {
    val planted = Map(
      owner -> "spark.readStream ... Trigger.AvailableNow()",
      "src/main/scala/graft/streaming/Planted.scala" ->
        """spark.readStream.option("maxFilesPerTrigger", "64")""")
    assert(offenders(planted) == Seq(
      ("src/main/scala/graft/streaming/Planted.scala", "\"maxFilesPerTrigger\""),
      ("src/main/scala/graft/streaming/Planted.scala", "readStream")))
  }

  test("only StreamOps.drainFiles builds a file-stream drain") {
    val files = MainSources.read()
    assert(files.contains(owner), s"$owner not found")
    tokens.foreach(t => assert(files(owner).contains(t), s"$owner lost $t"))
    val bad = offenders(files)
    assert(bad.isEmpty, "drain skeleton tokens outside StreamOps.drainFiles " +
      "(call it instead):\n" + bad.map { case (f, t) => s"$f: $t" }.mkString("\n"))
  }
}
