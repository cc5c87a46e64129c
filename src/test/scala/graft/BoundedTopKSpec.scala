package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** `BoundedTopK`, the kNN rank tail's aggregate, against the window rule it
  * replaced: `row_number() over (partition by q order by score desc, id)`
  * filtered to `lo..hi`. The window lives only here, as the oracle.
  */
class BoundedTopKSpec extends SparkSpec {
  import spark.implicits._

  /** The old rank tail over (q, id, s). */
  private def oracle(df: DataFrame, q: String, id: String, s: String,
                     lo: Int, hi: Int): DataFrame =
    df.withColumn("__rank", row_number().over(
        Window.partitionBy(col(q)).orderBy(col(s).desc, col(id))))
      .filter(col("__rank").between(lo, hi))
      .select(col(q), col(id), col("__rank"), col(s))

  private def topK(df: DataFrame, q: String, id: String, s: String,
                   lo: Int, hi: Int): DataFrame =
    df.groupBy(col(q))
      .agg(VectorFunctions.boundedTopK(col(s), col(id), hi).as("__top"))
      .select(col(q), explode(slice(col("__top"), lo, hi - lo + 1)).as("__e"))
      .select(col(q), col("__e.id").as(id), col("__e.rank").as("__rank"),
        col("__e.score").as(s))

  /** Rows as comparable keys, ordered by (q, rank): NaNs compare equal and
    * ±0.0 stay apart. */
  private def keyed(rows: Seq[Row]): Seq[(Option[Long], Int, Option[Long], Option[Long])] =
    rows.map { r =>
      def long(i: Int) = if (r.isNullAt(i)) None
        else Some(r.get(i).asInstanceOf[Number].longValue())
      (long(0), r.getInt(2), long(1),
        if (r.isNullAt(3)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))
    }.sortBy(t => (t._1.map(_ + 1).getOrElse(0L), t._2))

  private def sameRanks(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (keyed(got.collect().toSeq), keyed(want.collect().toSeq))
    assert(g == w, s"$what:\n got  ${g.take(12)}\n want ${w.take(12)}")
  }

  /** Heavy ties: nine score values with NaN, null, ±∞ and ±0.0; ids from a small range with
    * nulls, so (score, id) ties repeat; duplicate rows; groups from 1 row up
    * and one null query. A zero is −0.0 on odd ids only, so rows tied on
    * (score, id) are identical. */
  private val scored: DataFrame = {
    val rnd = new scala.util.Random(7)
    val scores = Array[Option[Double]](Some(1.0), Some(0.5), Some(-1.0),
      Some(Double.NaN), None, Some(0.0), Some(Double.NegativeInfinity),
      Some(Double.PositiveInfinity), Some(0.25))
    val rows = (0 until 2400).map { i =>
      val q: Option[Long] =
        if (i % 97 == 0) None
        else if (i < 60) Some(100L + i / 3) // 20 groups of 1..3 rows
        else Some((i % 48).toLong) // ~48 rows: the zeros sit near rank 30
      val id: Option[Long] = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(60).toLong)
      val s = scores(rnd.nextInt(scores.length)).map { x =>
        if (x == 0.0 && id.exists(_ % 2 == 1)) -0.0 else x
      }
      (q, id, s)
    }
    (rows ++ rows.take(300)).toDF("q", "id", "s")
  }

  test("bounded top-k equals the row_number window: ties, NaN, nulls, ±0.0, small groups") {
    for (parts <- Seq(1, 8); (lo, hi) <- Seq((1, 1), (1, 3), (1, 40), (2, 5), (20, 29))) {
      val df = scored.repartition(parts)
      sameRanks(topK(df, "q", "id", "s", lo, hi), oracle(df, "q", "id", "s", lo, hi),
        s"$parts partition(s), ranks $lo..$hi")
    }
  }

  test("integral ids keep their type; a non-integral id fails at plan time, naming the column") {
    val ints = scored.select(col("q").cast("int").as("q"),
      col("id").cast("int").as("id"), col("s"))
    val got = topK(ints, "q", "id", "s", 1, 3)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    sameRanks(got, oracle(ints, "q", "id", "s", 1, 3), "int ids")
    val bytes = ints.select(col("q"), (col("id") % 100).cast("byte").as("id"), col("s"))
    sameRanks(topK(bytes, "q", "id", "s", 2, 5), oracle(bytes, "q", "id", "s", 2, 5),
      "byte ids")

    val named = scored.select(col("q"), col("id").cast("string").as("doc_name"), col("s"))
    val e = intercept[AnalysisException](topK(named, "q", "doc_name", "s", 1, 3))
    assert(e.getMessage.contains("doc_name"), e.getMessage)
  }

  /** Corpus with repeated vectors (score ties) and a zero vector (null
    * cosine), for the all-pairs kernels. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(3)
    val base = Seq.tabulate(40)(_ => Array.fill(8)((rnd.nextInt(5) - 2).toFloat))
    (Seq.tabulate(300)(i => (i.toLong, base(rnd.nextInt(base.size)))) :+
      ((300L, Array.fill(8)(0.0f)))).toDF("vec_id", "embedding")
  }

  test("Similarity's kernels rank exactly as the window did, on 1 and 8 partitions") {
    val queries = corpus.filter(col("vec_id") % 7 === 0 || col("vec_id") === 300L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (parts <- Seq(1, 8); digits <- Seq(Some(6), None)) {
      val c = corpus.repartition(parts)
      val raw = VectorFunctions.cosine(col("embedding"), col("__qvec"))
      val pairs = c.join(queries.withColumnRenamed("embedding", "__qvec"),
          col("vec_id") =!= col("query_id"))
        .withColumn("cosine", digits.fold(raw)(d => round(raw, d)))
      for ((lo, hi) <- Seq((1, 1), (1, 3), (1, 40), (2, 5), (20, 29))) {
        val want = oracle(pairs, "query_id", "vec_id", "cosine", lo, hi)
        val got =
          if (lo == 1) Similarity.bruteForceTopK(c, queries, "vec_id", "query_id",
              "embedding", k = hi, scoreDigits = digits)
            .join(want.select("query_id", "vec_id", "__rank"), Seq("query_id", "vec_id"))
            .select(col("query_id"), col("vec_id"), col("__rank"), col("cosine"))
          else Similarity.rankBand(c, queries, "vec_id", "query_id", "embedding",
              lo, hi, scoreDigits = digits)
            .select(col("query_id"), col("vec_id"), col("rank").cast("int").as("__rank"),
              col("cosine"))
        assert(got.count() == want.count(), s"$parts, $digits, $lo..$hi")
        sameRanks(got, want, s"$parts partition(s), digits $digits, ranks $lo..$hi")
      }
    }
  }
}
