package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.expressions.{BoundedTopK, FastRound, VecCosine, VecDot, VecSimhashBuckets}

/** Embedding-vector math over `Array[Float]` (or `Array[Double]`) columns
  * (similarity-search pack, driver brief).
  *
  * Dot/cosine are custom codegen'd Catalyst expressions
  * (graft.expressions.VecExpressions): the higher-order-function formulation
  * (`aggregate`/`zip_with`) is declarative but evaluates interpreted —
  * measured ~100× slower on the ANN candidate-scoring hot path.
  */
object VectorFunctions {

  private def binary(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                         org.apache.spark.sql.catalyst.expressions.Expression) =>
                        org.apache.spark.sql.catalyst.expressions.Expression)
                    (a: Column, b: Column): Column =
    GraftColumnBridge.column(
      f(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Dot product of two array columns (double accumulation, codegen'd). */
  def dot(a: Column, b: Column): Column = binary(VecDot.apply)(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; null-safe on zero vectors (returns null).
    * Single fused loop (dot + both norms) in generated code.
    */
  def cosine(a: Column, b: Column): Column = binary(VecCosine.apply)(a, b)

  /** `round(score, scale)` on a double: the same bits as Spark's `round`,
    * without its `BigDecimal` detour except near `.5` ties
    * (graft.expressions.FastRound). */
  def fastRound(score: Column, scale: Int): Column =
    GraftColumnBridge.column(FastRound(GraftColumnBridge.expression(score), scale))

  /** Aggregate: the `k` best rows of each group by (score desc, id asc), as
    * `array<struct<rank, id, score>>` in rank order, exactly the ranks
    * `row_number()` gives over that order; ids must be integral
    * (graft.expressions.BoundedTopK). Project a computed score into its own
    * column first: the aggregate evaluates its inputs interpreted. */
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(BoundedTopK(GraftColumnBridge.eagerExpression(score),
      GraftColumnBridge.eagerExpression(id), k).toAggregateExpression())

  /** Deterministic PORTABLE hyperplanes for LSH bucketing: `nBits`
    * Rademacher (±1) planes of `dim` components, component signs derived
    * from `md5("seed:bit:component")` by the same 60-bit-prefix rule as
    * `HashFunctions.portableHash60` — so any engine regenerates the exact
    * planes and the whole bucketing becomes oracle-checkable (q70), unlike
    * a JVM-RNG Gaussian draw. ±1 planes are the standard SimHash family
    * for angular LSH (Charikar '02): collision probability 1 − θ/π per
    * bit, same as Gaussian planes. Generated driver-side once per plan
    * (a few KB of literals), NOT per row.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(b: Int, j: Int): Float = {
      val hex = md.digest(s"$seed:$b:$j".getBytes("UTF-8"))
        .take(8).map(x => f"$x%02x").mkString.take(15)
      if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1.0f else -1.0f
    }
    Array.tabulate(nBits)(b => Array.tabulate(dim)(j => sign(b, j)))
  }

  /** Random-hyperplane LSH bucket id: sign bits of `nBits` fixed hyperplane
    * projections, packed into a long. Vectors with high cosine similarity
    * collide with high probability — the bucketing key for ANN at scale
    * (join/aggregate per bucket instead of all-pairs). Each projection is one
    * codegen'd VecDot against a literal plane.
    *
    * @param dim vector dimensionality (callers discover it once from the data)
    */
  def simhashBucket(vec: Column, nBits: Int = 16, seed: Int = 42, dim: Int = 64): Column = {
    val planes = hyperplanes(nBits, dim, seed)
    (0 until nBits).map { i =>
      when(dot(vec, typedlit(planes(i).toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Johnson–Lindenstrauss random projection: `vec · plane_b` for `outDim`
    * portable Rademacher (±1) planes (Achlioptas 2003's database-friendly
    * JL variant) → `array<double>` of length `outDim`. Distances and
    * angles are preserved within `ε ≈ sqrt(ln n / outDim)` w.h.p., so a
    * 64→16 projection cuts candidate-scoring FLOPs and shuffle width 4×
    * while keeping cosine RANKS roughly intact — the standard prefilter
    * before an exact re-rank on the full vectors.
    *
    * No `1/√outDim` scaling: cosine and rank comparisons are
    * scale-invariant, and leaving the raw ±1 dots makes the projection an
    * exactly engine-replayable integer-weighted sum (each component is one
    * codegen'd [[dot]] against a literal plane, double accumulation in
    * element order — the q68-pinned contract `list_dot_product` matches).
    */
  def randomProject(vec: Column, outDim: Int, dim: Int, seed: Int): Column = {
    val planes = hyperplanes(outDim, dim, seed)
    array(planes.map(p => dot(vec, typedlit(p.toSeq))): _*)
  }

  /** All `nTables` LSH signatures at once → array<long> (explode to
    * (table, bucket) rows). Table t uses seed `seed + t`, bit-packed exactly
    * like [[simhashBucket]] — one fused codegen kernel instead of
    * nTables × nBits expression trees (graft.expressions.VecSimhashBuckets).
    */
  def simhashBuckets(vec: Column, nTables: Int, nBits: Int,
                     seed: Int = 42, dim: Int = 64): Column = {
    val planes = new Array[Float](nTables * nBits * dim)
    for (t <- 0 until nTables) {
      val hp = hyperplanes(nBits, dim, seed + t)
      for (b <- 0 until nBits)
        System.arraycopy(hp(b), 0, planes, (t * nBits + b) * dim, dim)
    }
    GraftColumnBridge.column(VecSimhashBuckets(
      GraftColumnBridge.expression(vec), planes, nTables, nBits, dim))
  }
}
