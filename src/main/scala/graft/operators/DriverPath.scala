package graft.operators

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.types.LongType

/** The one place that decides whether an operator runs its driver twin or
  * its distributed formulation. What is collected is always
  * post-aggregation, catalog-scale state — a deduped edge list, a label
  * table, a unit catalog, an agreement matrix — never raw input rows.
  */
private[graft] object DriverPath {

  /** The default driver budget of every guarded operator, in collected
    * rows. */
  val MaxRows: Int = 1 << 20

  implicit val longs: Encoder[Long] = Encoders.scalaLong
  implicit val pairs: Encoder[(Long, Long)] = Encoders.tuple(longs, longs)
  implicit val triples: Encoder[(Long, Long, Long)] =
    Encoders.tuple(longs, longs, longs)

  /** Guarded collect of `df`: `Right(rows)` — take the driver path — or
    * `Left(reason)` — take the distributed path. The rules:
    *  - a `budget` ≤ 0 means distributed (callers force the distributed
    *    path with 0);
    *  - a `checkpointer` other than `Local` means distributed: a
    *    `Reliable` caller is promised a durable final cut, and only the
    *    distributed path makes one;
    *  - a column that is not BIGINT means distributed: the distributed
    *    operators keep narrower input id types in their output, and the
    *    twins must not widen them;
    *  - a null in any column means distributed;
    *  - more than `budget` rows means distributed. The test collects
    *    `limit(budget + 1)` rows; the limit is unordered, which is fine,
    *    because the rows are only used when NOT truncated, so which
    *    `budget + 1` rows surface is irrelevant (do not "fix" this into a
    *    sort). Budgets beyond the largest array are capped to it.
    *
    * The first three rules decide without running a job. The collect is
    * typed: rows decode through the `Long` encoders above, matched to the
    * columns by position, into longs or tuples of longs, never through
    * `Row` objects.
    */
  def collect[T: Encoder](df: DataFrame, budget: Long,
      checkpointer: Dedup.Checkpointer = Dedup.Checkpointer.Local)
      : Either[String, Array[T]] = {
    val cap = math.min(budget, Int.MaxValue - 1L).toInt
    if (budget <= 0) Left(s"driver budget $budget <= 0")
    else if (checkpointer != Dedup.Checkpointer.Local)
      Left(s"checkpointer $checkpointer: only the distributed path leaves " +
        "a durable final cut")
    else df.schema.fields.find(_.dataType != LongType) match {
      case Some(f) => Left(s"column '${f.name}' is ${f.dataType.sql}, not BIGINT")
      case None =>
        try {
          val rows = df.limit(cap + 1).as[T].collect()
          if (rows.length > cap) Left(s"more than $cap rows") else Right(rows)
        } catch {
          // the Long decoders reject a null on the driver, after the collect
          case e: SparkThrowable
              if e.getCondition == "NOT_NULL_ASSERT_VIOLATION" =>
            Left("a collected value is null")
        }
    }
  }
}
