package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document MinHash signature (SURVEY.md §7.4 path (b)).
  *
  * The signature is a DOC-LOCAL computation: min over the document's word
  * n-grams of the portable double-hash family `h1 + i·h2`. The composed
  * shape (explode shingles → window lead → md5 → numHashes min-aggregates)
  * exists only because array lambdas evaluate interpreted — it pays a
  * window shuffle plus a grouped aggregate for values each document could
  * compute alone. This expression runs the whole loop in one pass per row;
  * value-equality with [[graft.operators.Dedup.minhashSignatures]] (and
  * therefore with the DuckDB oracles — the construction is unchanged) is
  * pinned in TextSignaturesSpec.
  *
  * Input must already be normalized (`TextFunctions.normalizeForDedup`) so
  * word splitting is a plain single-space scan and the normalization
  * semantics stay in exactly one (codegen'd, regex-based) place. Documents
  * with fewer than `shingleN` words yield null (the composed shape emits no
  * group for them).
  */
case class MinhashSignature(child: Expression, numHashes: Int, shingleN: Int)
    extends UnaryExpression {
  require(numHashes > 0 && numHashes <= 64, "numHashes in 1..64")
  require(shingleN > 0, "shingleN must be positive")

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val sig = TextSignatures.minhash(
      input.asInstanceOf[UTF8String].toString, numHashes, shingleN)
    if (sig == null) null else new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      s"""
         |long[] $sig = graft.expressions.TextSignatures.minhash(
         |  $c.toString(), $numHashes, $shingleN);
         |if ($sig == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused per-document SimHash fingerprint — same rationale as
  * [[MinhashSignature]]: the 60 bit-votes over word hashes are doc-local;
  * the composed shape pays an explode + 60-sum hash aggregate. Input must
  * be normalized; every document yields a value (a lone empty token still
  * votes, exactly like the composed explode).
  */
case class SimhashSignature(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    TextSignatures.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextSignatures.simhash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused per-document winnowing fingerprints — the rolling window-min over
  * shingle hashes is doc-local; the composed shape pays a window shuffle
  * plus a collect_set aggregate. Output matches
  * `Dedup.winnowFingerprints`'s `array_sort(collect_set(...))`: distinct
  * window-mins, ascending. Null when the document has no complete shingle.
  */
case class WinnowFingerprints(child: Expression, shingleN: Int, windowSize: Int)
    extends UnaryExpression {
  require(shingleN > 0 && windowSize > 0, "shingleN/windowSize must be positive")

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val fps = TextSignatures.winnow(
      input.asInstanceOf[UTF8String].toString, shingleN, windowSize)
    if (fps == null) null else new GenericArrayData(fps)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val fps = ctx.freshName("fps")
      s"""
         |long[] $fps = graft.expressions.TextSignatures.winnow(
         |  $c.toString(), $shingleN, $windowSize);
         |if ($fps == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($fps);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused per-document DISTINCT word n-gram set — the set-similarity unit of
  * [[graft.operators.Dedup.prefixFilterJaccard]], `containmentJoin` and
  * `withShingles` as ONE codegen pass per row. The composed shape
  * (posexplode words → window lead → concat → distinct) pays a doc-keyed
  * window shuffle plus a corpus-wide distinct for values each document can
  * compute alone; this expression makes the token-set table a MAP-ONLY
  * projection, so the whole shingle stream reaches its first real aggregate
  * without a shuffle. Gram construction is [[TextSignatures.foreachGram]] —
  * the same kernel the signature family hangs its fused-equals-composed
  * contract on.
  *
  * Callers evaluate it once per document: `prefixFilterJaccard` explodes
  * it straight into the (doc, token) rows of its one ordered-set table,
  * and the array-valued callers project it through `Dedup`'s run-once
  * helper. A plain `filter(isNotNull)` over the projection would be pushed
  * beneath it and run the kernel twice per row.
  *
  * Input must already be normalized ([[graft.functions.TextFunctions.normalizeForDedup]]).
  * Null when the document has no complete gram (fewer than `n` words, or
  * empty text at n = 1 — the normalized empty string splits to one empty
  * word, which is not a gram). Element order is first occurrence; consumers
  * are set-algebraic (explode → aggregate, array_intersect), never
  * positional.
  */
case class DistinctShingles(child: Expression, shingleN: Int)
    extends UnaryExpression {
  require(shingleN > 0, "shingleN must be positive")

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val set = TextSignatures.distinctGrams(
      input.asInstanceOf[UTF8String].toString, shingleN)
    if (set == null) null else new GenericArrayData(set)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val set = ctx.freshName("set")
      s"""
         |Object[] $set = graft.expressions.TextSignatures.distinctGrams(
         |  $c.toString(), $shingleN);
         |if ($set == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($set);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextSignatures {

  /** Visit each complete word `n`-gram of `words`, in position order —
    * shared by the signature kernels so the gram construction (the thing
    * the fused-equals-composed contract hangs on) lives in exactly one
    * place. Returns the gram count (0 when none).
    */
  private def foreachGram(words: Array[String], n: Int)
                         (f: String => Unit): Int = {
    val m = words.length - n + 1
    if (m <= 0) return 0
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(i + k))
        k += 1
      }
      f(sb.toString)
      i += 1
    }
    m
  }

  /** SimHash fingerprint of a normalized document (60 portable bits). */
  def simhash(normalized: String): Long = {
    val words = normalized.split(' ')
    val votes = new Array[Int](60)
    var i = 0
    while (i < words.length) {
      val h = PortableHashExpression.h60(
        PortableHashExpression.digest(words(i).getBytes("UTF-8")))
      var b = 0
      while (b < 60) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Winnowing fingerprints of a normalized document: distinct truncated
    * window-mins of the shingle hash sequence, sorted ascending; null when
    * no complete shingle exists.
    */
  def winnow(normalized: String, n: Int, windowSize: Int): Array[Long] = {
    val words = normalized.split(' ')
    val buf = new scala.collection.mutable.ArrayBuffer[Long]()
    val m = foreachGram(words, n)(g => buf += PortableHashExpression.h60(
      PortableHashExpression.digest(g.getBytes("UTF-8"))))
    if (m == 0) return null
    val hashes = buf.toArray
    val mins = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < m) {
      var mn = hashes(i)
      var k = i + 1
      val end = math.min(i + windowSize, m)
      while (k < end) {
        if (hashes(k) < mn) mn = hashes(k)
        k += 1
      }
      mins.add(mn)
      i += 1
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Distinct word `n`-grams of a NORMALIZED document in first-occurrence
    * order (as UTF8String for zero-copy handoff to the array), or null when
    * no complete gram exists. The n = 1 case is the distinct-words set: the
    * normalized empty string splits to one empty word, which is excluded
    * (mirrors the composed `filter(length > 0)` path).
    */
  def distinctGrams(normalized: String, n: Int): Array[AnyRef] = {
    val words = normalized.split(' ')
    val set = new java.util.LinkedHashSet[String]()
    foreachGram(words, n) { gram => if (gram.nonEmpty) { set.add(gram); () } }
    if (set.isEmpty) return null
    val out = new Array[AnyRef](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) {
      out(i) = UTF8String.fromString(it.next()); i += 1
    }
    out
  }

  private final val Mask60 = (1L << 60) - 1

  /** MinHash signature of a NORMALIZED (single-space) document, or null
    * when it has fewer than `n` words. Seed s hashes gram g as
    * `(h60(g) + s·h60b(g)) mod 2⁶⁰` — full-width Kirsch–Mitzenmacher, ONE
    * md5 per gram for all seeds (HashFunctions.portableSeededHash is the
    * Column form of the same definition). The step MUST be full-width: a
    * narrow one (the h28 mistake) never outweighs the 2⁶⁰-range gaps
    * between gram hashes, every seed shares one argmin, and the signature
    * degenerates to an arithmetic progression (regression-pinned in
    * TextSignaturesSpec). JVM wrap-around addition is exact here:
    * x mod 2⁶⁴ then mask 60 bits equals x mod 2⁶⁰ because 2⁶⁰ | 2⁶⁴.
    */
  def minhash(normalized: String, numHashes: Int, n: Int): Array[Long] = {
    val words = normalized.split(' ')
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val grams = foreachGram(words, n) { gram =>
      val d = PortableHashExpression.digest(gram.getBytes("UTF-8"))
      val h2 = PortableHashExpression.h60b(d)
      var v = PortableHashExpression.h60(d)
      var s = 0
      while (s < numHashes) {
        val m = v & Mask60
        if (m < mins(s)) mins(s) = m
        v += h2 // wraps mod 2^64; masking restores mod 2^60
        s += 1
      }
    }
    if (grams == 0) null else mins
  }
}
