package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary-stats and regression aggregates (SURVEY.md A3/A4/A8).
  *
  * Reference: per-chunk per-column `{dtype, count, min, max, mean}` over
  * finite values (`aeon/dj_pipeline/utils/stats.py:14-23`), timestamp stats
  * with median-diff sampling rate (`stats.py:26-39`), and the per-file
  * HarpSync linear regression (`aeon/schema/ephys.py:35-71`).
  *
  * Everything composes from built-in declarative aggregates — map-side
  * partials and whole-stage codegen for free; no UDAF needed (SURVEY.md §7.4).
  */
object StatsFunctions {

  /** Loud integral-grid guard, shared by the exact-statistics operators
    * (KM life table, KS drift, binned drift): distinct float values are
    * not a stable grid across engines — floor to the unit you mean
    * upstream. One helper so the accepted-type policy cannot fork per
    * call site.
    */
  def requireIntegralColumn(schema: org.apache.spark.sql.types.StructType,
                            column: String, operator: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
    val dt = schema(column).dataType
    require(dt == LongType || dt == IntegerType || dt == ShortType,
      s"$operator column '$column' must be integral (got $dt): distinct " +
        "float values are not a stable grid — floor to the unit you " +
        "mean upstream")
  }

  /** Snap an exact DECIMAL(38,0) statistic to BIGINT at a declared-query
    * edge, failing LOUDLY if the value ever leaves Long range instead of
    * wrapping or nulling. The internal arithmetic stays DECIMAL(38,0)
    * (overflow-proof `n·Σx²` products — the VERDICT r10 #3 fix); only the
    * EMITTED column narrows, because BIGINT is the output type the
    * driver's correctness hash treats stably while raw DECIMAL columns
    * hash-mismatch even when every value is identical (VERDICT r11 #1:
    * q207/q215/q216/q231/q246). Library callers that genuinely need
    * beyond-Long statistics keep the operators' DECIMAL output; declared
    * queries snap here.
    */
  def snapLong(c: Column): Column = {
    val d38 = c.cast("decimal(38,0)")
    when(d38 > lit(Long.MaxValue).cast("decimal(38,0)") ||
         d38 < lit(Long.MinValue).cast("decimal(38,0)"),
      raise_error(concat(lit("snapLong: statistic exceeds BIGINT range: "),
        d38.cast("string"))))
      .otherwise(d38).cast("long")
  }

  /** Finite-only column stats as a struct `(count, min, max, mean)`
    * (`stats.py:14-23`: NaN/inf excluded, mean rounded to 4 decimals).
    */
  def columnStats(c: Column): Column = {
    val finite = when(!isnan(c) && c =!= Double.PositiveInfinity &&
      c =!= Double.NegativeInfinity, c)
    struct(
      count(finite).as("count"),
      min(finite).as("min"),
      max(finite).as("max"),
      round(avg(finite), 4).as("mean"))
  }

  /** Per-group OLS of y ~ x, as `(slope, intercept, r2, n)` — the HarpSync
    * sync-model aggregate (`schema/ephys.py:43-68`). Pure built-ins
    * (`regr_slope` family), so the model is a struct of coefficients, never a
    * serialized object, and prediction stays a codegen'd expression.
    */
  def regression(y: Column, x: Column): Column =
    struct(
      regr_slope(y, x).as("slope"),
      regr_intercept(y, x).as("intercept"),
      regr_r2(y, x).as("r2"),
      regr_count(y, x).as("n"))

  /** Rolling OLS trend over a bounded window frame, as the EXACT integer
    * rational `(num, den, n)` with `slope = num/den`:
    * `num = n·Σxy − Σx·Σy`, `den = n·Σx² − (Σx)²` — five window sums over
    * one frame, no floats, so the oracle replays bit-exactly and callers
    * compare trends without ulp hazards (divide only at the presentation
    * edge). `x` must be an exact integer position (e.g. the per-key
    * row_number) and `yMicro` the signal in integer micros; `den = 0` iff
    * the frame holds a single row.
    *
    * The trailing-trend complement to [[regression]] (which fits one model
    * per GROUP): this fits one model per ROW over its trailing frame —
    * drift detection on QC signals, the reference's rolling-window
    * smoothing shape (`aeon/dj_pipeline/tracking.py:319`).
    */
  def rollingSlope(x: Column, yMicro: Column,
                   w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val n = count(yMicro).over(w)
    val sx = sum(x).over(w)
    val sy = sum(yMicro).over(w)
    val sxy = sum(x * yMicro).over(w)
    val sxx = sum(x * x).over(w)
    struct((n * sxy - sx * sy).as("num"), (n * sxx - sx * sx).as("den"),
      n.as("n"))
  }
}
