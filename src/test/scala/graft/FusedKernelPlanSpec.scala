package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayUnion, Expression}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col

import graft.expressions.{DistinctShingles, MinhashSignature, SimhashSignature,
  WinnowFingerprints}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** The fused text kernels run once per row. A `select(kernel)` followed by
  * `filter(isNotNull)` lets Catalyst push the filter beneath the projection,
  * and the executed plan then evaluates the kernel in both the `Filter` and
  * the `Project`. Each Dedup helper's executed plan (AQE's final plan, read
  * through its query stages, reused exchanges counted once) must hold its
  * kernel exactly once, and `prefixFilterJaccard` must tokenize once, reuse
  * its ordered-set table's exchange and cut nothing; `containmentJoin`
  * likewise, once per input side.
  */
class FusedKernelPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** A parquet scan, not a local relation: the optimizer evaluates
    * projections and filters over a local relation itself, which would
    * leave no kernel in the plan to count. */
  private lazy val docs = {
    val dir = java.nio.file.Files.createTempDirectory("fused-kernel-plan")
      .resolve("docs").toString
    Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> null,
      3L -> "too short",
      4L -> "the quick brown fox jumps over a lazy dog",
      5L -> "a quick brown fox jumps over the lazy dog again")
      .toDF("id", "text").write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A one-row query table for `containmentJoin`, also a parquet scan. */
  private lazy val queries = {
    val dir = java.nio.file.Files.createTempDirectory("fused-kernel-plan")
      .resolve("queries").toString
    Seq(9L -> "the quick brown fox jumps").toDF("qid", "qtext")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The final executed plan of `df`, after running it. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Occurrences of a `K` expression across the operators of `plan`.
    * Leaves are skipped: a file scan lists the filters offered to it for
    * pushdown, which it does not evaluate row by row. */
  def kernelCount[K <: Expression](plan: SparkPlan)(
      implicit k: scala.reflect.ClassTag[K]): Int =
    collectWithSubqueries(plan) { case p if !p.isInstanceOf[LeafExecNode] =>
      p.expressions.map(_.collect { case e: K => e }.size).sum
    }.sum

  test("checker counts a kernel twice under a pushed null filter") {
    val planted = docs.select(col("id"),
        TextFunctions.distinctShinglesFused(
          TextFunctions.normalizeForDedup(col("text")), 3).as("s"))
      .filter(col("s").isNotNull)
    assert(kernelCount[DistinctShingles](executed(planted)) == 2)
    assert(kernelCount[DistinctShingles](
      executed(Dedup.withShingles(docs, "id", "text"))) == 1)
  }

  test("each fused helper evaluates its kernel once per row") {
    def once[K <: Expression: scala.reflect.ClassTag](df: DataFrame): Unit = {
      val n = kernelCount[K](executed(df))
      assert(n == 1, s"${implicitly[scala.reflect.ClassTag[K]]}: $n in\n" +
        df.queryExecution.executedPlan)
    }
    once[MinhashSignature](Dedup.minhashSignaturesFused(docs, "id", "text",
      numHashes = 8))
    once[SimhashSignature](Dedup.simhashSignaturesFused(docs, "id", "text"))
    once[WinnowFingerprints](Dedup.winnowFingerprintsFused(docs, "id", "text"))
    once[DistinctShingles](Dedup.withShingles(docs, "id", "text"))
    once[DistinctShingles](Dedup.withHashedShingles(docs, "id", "text"))
  }

  test("the helpers keep the null-dropping rows of the plain shape") {
    assert(Dedup.minhashSignaturesFused(docs, "id", "text", numHashes = 8)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
    assert(Dedup.withShingles(docs, "id", "text", n = 1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  /** `build` runs no job (no checkpoint cut), and the executed plan holds
    * `kernels` tokenizing kernels plus a reused exchange of a table that
    * tokenizes. */
  private def tokenizesOnce(group: String, kernels: Int)(
      build: => DataFrame): SparkPlan = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction only")
    val df = try build finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "building the plan ran a job (a checkpoint cut)")
    val plan = executed(df)
    assert(kernelCount[DistinctShingles](plan) == kernels, plan.toString)
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
    assert(reused.exists(r => kernelCount[DistinctShingles](r.child) == 1),
      s"no reused exchange of the tokenized set table in\n$plan")
    plan
  }

  test("prefixFilterJaccard tokenizes once, reuses its ordered-set table, " +
    "and cuts nothing") {
    val corpus = docs // its parquet write runs jobs
    val plan = tokenizesOnce("prefix-filter-build", kernels = 1) {
      Dedup.prefixFilterJaccard(corpus, "id", "text", thresholdPct = 30, n = 3)
    }
    assert(kernelCount[ArrayUnion](plan) == 0, plan.toString)
  }

  test("containmentJoin tokenizes each side once, reuses its corpus set " +
    "table, and cuts nothing") {
    val (corpus, qs) = (docs, queries) // their parquet writes run jobs
    tokenizesOnce("containment-build", kernels = 2) {
      Dedup.containmentJoin(corpus, "id", "text", qs, "qid", "qtext",
        thresholdPct = 50, n = 3)
    }
  }
}
