package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{FastRound, FastRoundKernel}

/** `FastRound` against Spark's own `round(double, d)`, bit for bit, on both
  * the interpreted path (`eval`) and the codegen path (an unsafe
  * projection), for d = 0..15. No SparkSession: the expressions are
  * evaluated directly.
  */
class FastRoundSpec extends AnyFunSuite {

  private val in = BoundReference(0, DoubleType, nullable = true)
  private val rnd = new scala.util.Random(20201)

  /** Values near the HALF_UP tie `(m + 0.5)/10^d`, parsed from its decimal
    * string, and the doubles up to 3 ulps either side of it. */
  private def ties(d: Int): Seq[Double] =
    Seq.fill(300) {
      val digits = 1 + rnd.nextInt(15)
      val m = (rnd.nextLong() & Long.MaxValue) % math.pow(10, digits).toLong
      val tie = BigDecimal(m).+(BigDecimal("0.5")).bigDecimal
        .movePointLeft(d).doubleValue()
      Iterator.iterate(tie)(math.nextDown).slice(1, 4).toSeq ++
        Iterator.iterate(tie)(math.nextUp).take(4).toSeq
    }.flatten.flatMap(x => Seq(x, -x))

  private def values(d: Int): Seq[Double] = {
    val p = math.pow(10, d)
    val random = Seq.fill(2000)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(2000)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(51) - 25)) ++
      Seq.fill(2000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val zeros = Seq(0.0, -0.0, -Double.MinPositiveValue, -1e-300, -0.4 / p,
      -0.5 / p, -0.49999 / p, -0.50001 / p, 0.5 / p, -1.5 / p)
    val special = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, Double.MinValue,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL)
    val subnormal = Seq.fill(500) {
      val x = java.lang.Double.longBitsToDouble(rnd.nextLong() & ((1L << 52) - 1))
      if (rnd.nextBoolean()) x else -x
    }
    val twoPow53 = 9007199254740992.0
    val large = Seq.fill(500)(twoPow53 / p * (1 + rnd.nextDouble() * 100)) ++
      (-3 to 3).map(j => (twoPow53 + j) / p) ++
      (-3 to 3).map(j => (twoPow53 - 0.5 + j) / p)
    (random ++ ties(d) ++ zeros ++ special ++ subnormal ++ large)
      .flatMap(x => Seq(x, -x))
  }

  /** Bits with one NaN: an unsafe row may store any NaN as the canonical
    * one, and ±0.0 stay apart. */
  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  test("fast round equals Spark's round bit for bit, interpreted and codegen, d = 0..15") {
    for (d <- 0 to 15) {
      val fast: Expression = FastRound(in, d)
      val spark: Expression = Round(in, Literal(d))
      val codegen = GenerateUnsafeProjection.generate(Seq(fast, spark))
      values(d).foreach { x =>
        val row = InternalRow(x)
        val want = spark.eval(row).asInstanceOf[Double]
        val got = fast.eval(row).asInstanceOf[Double]
        val out = codegen(row)
        assert(bits(got) == bits(want), s"interpreted: round($x, $d) = $got, Spark $want")
        assert(bits(out.getDouble(0)) == bits(out.getDouble(1)),
          s"codegen: round($x, $d) = ${out.getDouble(0)}, Spark ${out.getDouble(1)}")
        assert(bits(out.getDouble(1)) == bits(want), s"Spark's paths differ at $x, $d")
      }
    }
  }

  test("null in, null out; zero and tiny negatives round to +0.0") {
    assert(FastRound(Literal(null, DoubleType), 6).eval() == null)
    Seq(-0.0, -1e-300, -Double.MinPositiveValue, -4e-7).foreach { x =>
      assert(bits(FastRoundKernel.round(x, 6)) == bits(0.0), s"round($x, 6)")
    }
  }
}
