package graft

import org.scalatest.funsuite.AnyFunSuite

/** One staged-publish protocol, one place: the completeness marker and
  * the staged-name suffix appear in `Populate.scala` alone, and
  * `Layout.compact` publishes through `Populate.replaceAtomic` instead of
  * renaming on its own. A main source file that spells the protocol out
  * again fails this spec, in the DriverGuardIdiomSpec style.
  *
  * Pure file check — no SparkSession needed.
  */
class StagedProtocolIdiomSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/operators/Populate.scala"
  private val layout = "src/main/scala/graft/sources/Layout.scala"
  private val protocol = """_GRAFT_STAGED_COMPLETE|__staged\b""".r
  private val rename = """\.rename\(""".r

  /** (file, matched text) for every protocol spelling outside `owner`
    * and every rename in `layout`. */
  def offenders(files: Map[String, String]): Seq[(String, String)] =
    (for {
      (path, text) <- files.toSeq
      m <- (if (path == owner) Nil else protocol.findAllIn(text).toSeq) ++
        (if (path == layout) rename.findAllIn(text).toSeq else Nil)
    } yield (path, m)).sorted

  test("checker flags planted protocol copies") {
    val planted = Map(
      owner -> """val m = "_GRAFT_STAGED_COMPLETE"; fs.rename(a, b)""",
      layout -> """if (!fs.rename(staged, leaf)) fail()""",
      "src/main/scala/graft/streaming/Planted.scala" ->
        """val staged = new Path(dir, ".t.__staged")
          |fs.create(new Path(staged, "_GRAFT_STAGED_COMPLETE"))
          |df.select(col("x").as("__staged_src"))""".stripMargin)
    assert(offenders(planted) == Seq(
      (layout, ".rename("),
      ("src/main/scala/graft/streaming/Planted.scala", "_GRAFT_STAGED_COMPLETE"),
      ("src/main/scala/graft/streaming/Planted.scala", "__staged")))
  }

  test("only Populate spells out the staged-publish protocol") {
    val files = MainSources.read()
    Seq(owner, layout).foreach(f => assert(files.contains(f), s"$f not found"))
    assert(protocol.findAllIn(files(owner)).size >= 2,
      s"$owner lost its marker or staged suffix")
    val bad = offenders(files)
    assert(bad.isEmpty, "staged-publish protocol outside Populate " +
      "(call Populate instead):\n" +
      bad.map { case (f, m) => s"$f: $m" }.mkString("\n"))
  }
}
