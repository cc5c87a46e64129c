package graft

import org.scalatest.funsuite.AnyFunSuite

/** One rule, one place: whether an operator runs its driver twin or its
  * distributed path is decided by `DriverPath.collect` alone. A main source
  * file that hand-rolls the guard idiom again — an over-budget
  * `limit(n + 1)` probe or a `count() <=` size test — fails this spec, in
  * the DrainSkeletonSpec style.
  *
  * Pure file check — no SparkSession needed.
  */
class DriverGuardIdiomSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/operators/DriverPath.scala"
  private val idiom = """\.limit\([^)]*\+ ?1\)|count\(\) <= """.r

  /** (file, matched text) for every main source file other than `owner`
    * that contains the guard idiom. */
  def offenders(files: Map[String, String]): Seq[(String, String)] =
    (for {
      (path, text) <- files.toSeq if path != owner
      m <- idiom.findAllIn(text)
    } yield (path, m)).sorted

  test("checker flags planted hand-rolled guards") {
    val planted = Map(
      owner -> "df.limit(cap + 1).collect()",
      "src/main/scala/graft/operators/Planted.scala" ->
        """val rows = df.limit(maxRows + 1).collect()
          |if (edges.count() <= budget) driver() else distributed()""".stripMargin)
    assert(offenders(planted) == Seq(
      ("src/main/scala/graft/operators/Planted.scala", ".limit(maxRows + 1)"),
      ("src/main/scala/graft/operators/Planted.scala", "count() <= ")))
  }

  test("only DriverPath.collect decides driver or distributed") {
    val files = MainSources.read()
    assert(files.contains(owner), s"$owner not found")
    assert(idiom.findFirstIn(files(owner)).nonEmpty, s"$owner lost its guard")
    val bad = offenders(files)
    assert(bad.isEmpty, "driver-path guard outside DriverPath.collect " +
      "(call it instead):\n" + bad.map { case (f, m) => s"$f: $m" }.mkString("\n"))
  }
}
