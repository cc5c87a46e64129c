package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** HALF_UP rounding of a double to `scale` decimal places, bit-identical to
  * Spark's `round(double, scale)`, which is
  * `BigDecimal.valueOf(x).setScale(scale, HALF_UP).doubleValue()`.
  *
  * `BigDecimal.valueOf` reads the decimal string `s` of `Double.toString(x)`,
  * which parses back to `x`, so `|s − x| ≤ ulp(x)/2`. With `y = x·10^d`
  * computed in double (one rounding, `≤ ulp(y)/2`), `s·10^d` lies within
  * `ulp(y)/2 + 10^d·ulp(x)/2` of `y`. The bound used below is twice that.
  * When the fraction of `|y|` is farther than the bound from `.5`, the
  * HALF_UP integer `n` of `s·10^d` is `floor(|y|)` or `floor(|y|) + 1`,
  * whatever side of `.5` the fraction sits on. `setScale` then holds
  * `n / 10^d`, and its `doubleValue` is that quotient correctly rounded. For
  * `|n| < 2^53` and `d ≤ 22` both operands are exact doubles, so one IEEE
  * division gives the same bits. Everything else (near-ties, `|y| ≥ 2^53`,
  * `d` outside 0..22, NaN, ±∞) takes the `BigDecimal` path. A zero `n`
  * returns +0.0 whatever the sign of `x`, as `BigDecimal` has no −0.
  */
object FastRoundKernel {
  private val TwoPow53 = 9007199254740992.0d
  /** 10^d for d in 0..22, each exact. */
  private val Pow10: Array[Double] = Array.tabulate(23)(d => s"1e$d".toDouble)

  def round(x: Double, scale: Int): Double = {
    if (scale >= 0 && scale <= 22) {
      val p = Pow10(scale)
      val t = math.abs(x * p)
      if (t < TwoPow53) { // false for NaN and ±∞ too
        val fl = math.floor(t)
        val dist = (t - fl) - 0.5
        if (math.abs(dist) > math.ulp(t) + math.ulp(x) * p) {
          val n = if (dist > 0) fl + 1 else fl
          if (n < TwoPow53) {
            val r = n / p
            return if (x < 0 && n != 0) -r else r
          }
        }
      }
    }
    exact(x, scale)
  }

  /** Spark's own rule, the fallback. */
  private def exact(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** `round(child, scale)` on a double through [[FastRoundKernel]]; the same
  * bits as Spark's `round`, on both the interpreted and the codegen path. */
case class FastRound(child: Expression, scale: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fast_round"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double; ${child.sql} is ${child.dataType.sql}")

  override def nullSafeEval(x: Any): Any =
    FastRoundKernel.round(x.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.FastRoundKernel.round($c, $scale)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `k` best rows of a group by (score desc, id asc), as
  * `array<struct<rank: int, id, score: double>>` with ranks 1..n (n ≤ k).
  * The order is exactly `row_number() over (order by score desc, id)`:
  * scores compare by `SQLOrderingUtil.compareDoubles` (NaN ranks first under
  * desc, −0.0 ties with 0.0), null scores rank last and null ids first.
  * Rows tied on both keys keep their first-seen order; they differ in no
  * output field but the sign of a zero score.
  *
  * The buffer is fixed-width, `2k + 1` slots: the entry count, then a double
  * score and a bigint id per entry, best first (integral ids widen to bigint
  * and narrow back on output). So Spark plans a `HashAggregate` with a
  * partial step before the shuffle, and nothing sorts the scored pairs. An
  * `ImperativeAggregate` evaluates its children interpreted: project the
  * score into its own column beneath the aggregate, so the scoring stays in
  * a codegen'd `Project`.
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate with BinaryLike[Expression] {

  require(k >= 1, s"bounded_top_k needs k >= 1, got $k")

  override def left: Expression = score
  override def right: Expression = id
  override def prettyName: String = "bounded_top_k"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("id", id.dataType),
    StructField("score", DoubleType))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double score; ${score.sql} is ${score.dataType.sql}")
    else id.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an integral id column; ${id.sql} is ${other.sql}")
    }

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("n", IntegerType, nullable = false)() +:
      (0 until k).flatMap(i => Seq(
        AttributeReference(s"score_$i", DoubleType)(),
        AttributeReference(s"id_$i", LongType)()))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType =
    DataTypeUtils.fromAttributes(aggBufferAttributes)

  /** Output narrowing of a widened id. */
  private lazy val narrow: Long => Any = id.dataType match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case _ => identity
  }

  /** < 0 when entry a ranks before entry b. */
  private def compare(aNull: Boolean, a: Double, aIdNull: Boolean, aId: Long,
                      bNull: Boolean, b: Double, bIdNull: Boolean, bId: Long): Int =
    if (aNull != bNull) { if (aNull) 1 else -1 }
    else {
      val c = if (aNull) 0 else SQLOrderingUtil.compareDoubles(b, a)
      if (c != 0) c
      else if (aIdNull != bIdNull) { if (aIdNull) -1 else 1 }
      else if (aIdNull) 0
      else java.lang.Long.compare(aId, bId)
    }

  /** Insert one entry into the sorted buffer at `off`; false when it ranks
    * below a full buffer's last entry. */
  private def insert(buf: InternalRow, off: Int, sNull: Boolean, s: Double,
                     idNull: Boolean, i: Long): Boolean = {
    val n = buf.getInt(off)
    var p = n
    while (p > 0 && compare(sNull, s, idNull, i,
        buf.isNullAt(off + 2 * p - 1), buf.getDouble(off + 2 * p - 1),
        buf.isNullAt(off + 2 * p), buf.getLong(off + 2 * p)) < 0) p -= 1
    if (p >= k) false
    else {
      var j = math.min(n, k - 1)
      while (j > p) {
        val from = off + 2 * j - 1
        if (buf.isNullAt(from)) buf.setNullAt(from + 2)
        else buf.setDouble(from + 2, buf.getDouble(from))
        if (buf.isNullAt(from + 1)) buf.setNullAt(from + 3)
        else buf.setLong(from + 3, buf.getLong(from + 1))
        j -= 1
      }
      if (sNull) buf.setNullAt(off + 2 * p + 1) else buf.setDouble(off + 2 * p + 1, s)
      if (idNull) buf.setNullAt(off + 2 * p + 2) else buf.setLong(off + 2 * p + 2, i)
      if (n < k) buf.setInt(off, n + 1)
      true
    }
  }

  override def initialize(buf: InternalRow): Unit = {
    buf.setInt(mutableAggBufferOffset, 0)
    var i = 1
    while (i <= 2 * k) { buf.setNullAt(mutableAggBufferOffset + i); i += 1 }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val s = score.eval(input)
    val i = id.eval(input)
    insert(buf, mutableAggBufferOffset,
      s == null, if (s == null) 0.0 else s.asInstanceOf[Double],
      i == null, if (i == null) 0L else i.asInstanceOf[Number].longValue())
    ()
  }

  override def merge(buf: InternalRow, other: InternalRow): Unit = {
    val o = inputAggBufferOffset
    val n = other.getInt(o)
    var j = 0
    // `other` is sorted: once an entry misses, every later one misses too
    while (j < n && insert(buf, mutableAggBufferOffset,
        other.isNullAt(o + 2 * j + 1), other.getDouble(o + 2 * j + 1),
        other.isNullAt(o + 2 * j + 2), other.getLong(o + 2 * j + 2))) j += 1
  }

  override def eval(buf: InternalRow): Any = {
    val off = mutableAggBufferOffset
    val n = buf.getInt(off)
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) = new GenericInternalRow(Array[Any](j + 1,
        if (buf.isNullAt(off + 2 * j + 2)) null else narrow(buf.getLong(off + 2 * j + 2)),
        if (buf.isNullAt(off + 2 * j + 1)) null else buf.getDouble(off + 2 * j + 1)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(score = newLeft, id = newRight)
}
