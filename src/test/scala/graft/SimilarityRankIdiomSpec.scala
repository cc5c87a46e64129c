package graft

import org.scalatest.funsuite.AnyFunSuite

/** The kNN rank tail stays sort-free and off `BigDecimal`: Similarity.scala
  * ranks through the bounded top-k aggregate and rounds through the fast
  * `round`, so its code holds no `row_number` and no call of Spark's
  * `round(`. Comments may name either. Pure file check — no SparkSession
  * needed.
  */
class SimilarityRankIdiomSpec extends AnyFunSuite {

  private val similarity = "src/main/scala/graft/operators/Similarity.scala"
  /** `row_number`, a bare `round(` or `functions.round(` (not
    * `fastRound(`, `math.round(`). */
  private val idiom = """row_number|\bfunctions\.round\(|(?<![\w.])round\(""".r
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** Matched text of every offender in the code of `text`. */
  def offenders(text: String): Seq[String] =
    idiom.findAllIn(comments.replaceAllIn(text, "")).toSeq

  test("checker flags planted window ranks and Spark rounds") {
    val planted =
      """/** ranks like `row_number()`, rounds like `round(x, 6)` */
        |val w = row_number().over(win) // not round(x, 2)
        |val s = round(score, 6)
        |val f = VectorFunctions.fastRound(score, 6) + math.round(x)
        |val g = functions.round(score, 6)""".stripMargin
    assert(offenders(planted) == Seq("row_number", "round(", "functions.round("))
  }

  test("Similarity ranks without row_number and rounds without Spark's round") {
    val files = MainSources.read()
    assert(files.contains(similarity), s"$similarity not found")
    assert(files(similarity).contains("boundedTopK"),
      s"$similarity lost its bounded top-k")
    val bad = offenders(files(similarity))
    assert(bad.isEmpty, s"$similarity ranks or rounds the slow way " +
      "(use VectorFunctions.boundedTopK / fastRound):\n" + bad.mkString("\n"))
  }
}
