package graft

import java.util.regex.Pattern

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One rule, one place: the file-stream drain skeleton (file source, the
  * per-trigger file cap, the `AvailableNow` trigger, the checkpoint) lives
  * in `StreamOps.drainFiles` alone, and the keyed wave of the causal drains
  * (the late-rule filter, the typed-null state default, the state argmax)
  * in `StreamOps.keyedRead`/`commitWave` alone. A drain that hand-rolls
  * either again fails this spec, in the CoverageLedgerSpec style of reading
  * the repo's files.
  *
  * Pure file check — no SparkSession needed.
  */
class DrainSkeletonSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/streaming/StreamOps.scala"
  private val tokens = Seq("readStream", "Trigger.AvailableNow",
    "\"maxFilesPerTrigger\"", "\"checkpointLocation\"")

  /** The keyed wave's tokens, by name. They are checked in the streaming
    * package only: operators take struct argmaxes of their own. */
  private val streaming = "src/main/scala/graft/streaming/"
  private val keyedTokens: Seq[(String, Regex)] = Seq(
    "late-rule filter" ->
      """\.isNull\s*\|\|\s*col\([^()]*\)\s*>\s*col\(""".r,
    "state default" -> Pattern.quote("""lit(null).cast("long")""").r,
    "state argmax" -> Pattern.quote("max(struct(").r)

  /** (file, token) for every main source file other than `owner` that
    * names one of the skeleton's tokens, or, in the streaming package, one
    * of the keyed wave's. */
  def offenders(files: Map[String, String]): Seq[(String, String)] =
    (for {
      (path, text) <- files.toSeq if path != owner
      t <- tokens.filter(text.contains) ++ keyedTokens.collect {
        case (name, re) if path.startsWith(streaming) &&
          re.findFirstIn(text).nonEmpty => name
      }
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

  test("checker flags a planted hand-rolled keyed wave") {
    val drain = "src/main/scala/graft/streaming/PlantedKeyed.scala"
    val planted = Map(
      owner -> """col(f).isNull || col(us) > col(f) lit(null).cast("long")""",
      drain ->
        """rows.withColumn("last_us", lit(null).cast("long"))
          |  .filter(col("last_us").isNull ||
          |    col("us") > col("last_us"))
          |state.groupBy("key").agg(max(struct(col("us"), col("v"))))""".stripMargin,
      // an in-wave gap test and an operator's argmax are not the wave
      "src/main/scala/graft/streaming/Gaps.scala" ->
        """when(col("__prev").isNull || col("us") - col("__prev") > gap, 1L)""",
      "src/main/scala/graft/operators/Argmax.scala" ->
        """df.groupBy("k").agg(max(struct(col("n"), col("g"))))""")
    assert(offenders(planted) == Seq((drain, "late-rule filter"),
      (drain, "state argmax"), (drain, "state default")))
  }

  test("only StreamOps.drainFiles builds a file-stream drain") {
    val files = MainSources.read()
    assert(files.contains(owner), s"$owner not found")
    tokens.foreach(t => assert(files(owner).contains(t), s"$owner lost $t"))
    // the state argmax itself is Populate.latestPerKey, which commitWave calls
    keyedTokens.filterNot(_._1 == "state argmax").foreach { case (name, re) =>
      assert(re.findFirstIn(files(owner)).nonEmpty, s"$owner lost the $name")
    }
    assert(files(owner).contains("Populate.latestPerKey"))
    val bad = offenders(files)
    assert(bad.isEmpty, "drain skeleton or keyed-wave tokens outside " +
      "StreamOps (call drainFiles, keyedRead or commitWave instead):\n" +
      bad.map { case (f, t) => s"$f: $t" }.mkString("\n"))
  }
}
