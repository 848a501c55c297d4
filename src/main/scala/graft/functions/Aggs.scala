package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation builders mirroring pypond's `Functions` factory
  * (reference: pypond/functions.py:124-345) plus its missing-value
  * `Filters` (pypond/functions.py:21-75), re-expressed as Catalyst
  * column expressions so they stay inside whole-stage codegen.
  *
  * Numeric-parity conventions (shared with the DuckDB oracles):
  *   - sums go through DECIMAL(38,6) so the result is exact and
  *     independent of partition/accumulation order at any scale;
  *   - avg / stdev / percentile round to 6dp (fp accumulation order
  *     differs across engines only below that).
  */
object Aggs {
  val SumDec: DecimalType = DecimalType(38, 6)

  /** Order-independent exact sum (Functions.sum). */
  def sumExact(c: Column): Column = sum(c.cast(SumDec))

  /** Integer micro-unit accumulator behind [[sumExactD]]: each value
    * becomes its exact 6dp micro-unit count — through one double
    * multiply + round() when |x| < 4e9 (there x·1e6 < 2^52, so the
    * product is within 0.5 ulp of the true integer and round()
    * recovers exactly the same 6dp value as a decimal cast; at 2^53
    * the product's ulp reaches 1 and shortest-repr inputs like
    * 4503033111.643871 round to an off-by-one micro-count),
    * through the full decimal cast for outliers — and the micro-units
    * accumulate as DECIMAL(38,0). Same exactness and order-
    * independence as summing DECIMAL(38,6) directly, but the per-row
    * BigDecimal construction (the hot-path cost: q1 measured 1.13s
    * decimal vs 0.83s micros at sf0.1) is replaced by codegen'd
    * double arithmetic on the fast path.
    */
  val MicroDec: DecimalType = DecimalType(38, 0)

  /** Per-value guarded micro-unit expression (the scalar half of the
    * accumulator above) — also usable under window sums and two-stage
    * (salted) partial aggregations.
    */
  def micros(c: Column): Column = {
    val d = c.cast("double")
    when(abs(d) < lit(4.0e9), round(d * lit(1e6)).cast("long").cast(MicroDec))
      .otherwise((c.cast(SumDec) * lit(1000000L)).cast(MicroDec))
  }

  /** Exact decimal divide restoring value units from a micro-unit sum,
    * surfaced as double.
    */
  def microsToD(s: Column): Column = (s / lit(1000000L)).cast("double")

  private def sumExactMicros(c: Column): Column = sum(micros(c))

  /** Exact sum with a DOUBLE wire type: the accumulation is exact
    * integer micro-units (order-independent at any scale), restored to
    * value units by one exact decimal divide, and only the final value
    * is surfaced as a double. Query outputs use this rather than raw
    * DECIMAL because engines disagree on how a decimal column is
    * rendered downstream (DuckDB's pandas bridge gives float64,
    * parquet Decimal keeps trailing zeros), while an exact-decimal-to-
    * double conversion is bit-identical everywhere as long as the
    * unscaled value fits in 2^53 (true through sf1 at scale 6).
    * Bit-identical to `CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`
    * — the DuckDB oracle form — for ≤6dp-exact inputs (all graft
    * sum columns; ties beyond 6dp are the half-tie hazard §3 documents).
    */
  def sumExactD(c: Column): Column = microsToD(sumExactMicros(c))

  def avg6(c: Column): Column = round(avg(c), 6)

  /** pypond stdev is population stdev (pypond/functions.py:300-313). */
  def stddevPop6(c: Column): Column = round(stddev_pop(c), 6)

  /** Exact percentile w/ linear interpolation, numpy-compatible
    * (pypond/functions.py:251 method='linear'; DuckDB quantile_cont).
    */
  def percentileLin6(c: Column, p: Double): Column =
    round(percentile(c, lit(p)), 6)

  def median6(c: Column): Column = percentileLin6(c, 0.5)

  /** pypond's non-linear percentile methods (functions.py:251,
    * numpy interpolation names): index h = (n-1)*p into the sorted
    * values; lower/higher pick floor(h)/ceil(h); 'nearest' rounds
    * HALF TO EVEN like numpy. Computed from a per-group sorted array
    * so any SQL engine can mirror the arithmetic exactly. Null on
    * empty groups (collect_list skips nulls).
    */
  def percentileMethod(c: Column, p: Double, method: String): Column = {
    val arr = sort_array(collect_list(c))
    val h = (size(arr) - lit(1)).cast("double") * lit(p)
    val lo = floor(h)
    val idx = method match {
      case "lower"  => lo
      case "higher" => ceil(h)
      case "nearest" =>
        // numpy half-to-even: on an exact .5 pick the even index
        when(h - lo === 0.5,
          when(pmod(lo.cast("long"), lit(2L)) === 0, lo).otherwise(lo + 1))
          .otherwise(floor(h + lit(0.5)))
      case m => throw new IllegalArgumentException(s"bad method: $m")
    }
    when(size(arr) === 0, lit(null))
      .otherwise(element_at(arr, idx.cast("int") + 1))
  }

  /** [[percentileLin6]]'s probe applied to an ALREADY-AGGREGATED
    * sorted-array column: lets an audit query that needs several
    * percentile probes per group buffer each group's values ONCE
    * (one `sort_array(collect_list(..))` aggregate) instead of once
    * per probe — six independent `percentile` buffers on a 100 TB
    * group is exactly the memory blowup the sketches being audited
    * exist to avoid. The interpolation mirrors Spark's exact
    * `percentile` bit-for-bit (lower*(ceil(h)-h) + higher*(h-floor(h)),
    * lower short-circuit when floor==ceil), so swapping the six
    * aggregates for six probes over one array is value-identical.
    */
  def percentileLinOf6(arr: Column, p: Double): Column = {
    val h = (size(arr) - lit(1)).cast("double") * lit(p)
    val lo = floor(h)
    val hi = ceil(h)
    val vlo = element_at(arr, lo.cast("int") + 1)
    val vhi = element_at(arr, hi.cast("int") + 1)
    when(size(arr) === 0, lit(null))
      .otherwise(round(
        when(lo === hi, vlo).otherwise(vlo * (hi - h) + vhi * (h - lo)), 6))
  }

  /** [[percentileMethod]]'s index arithmetic over an already-
    * aggregated sorted array (same single-buffer rationale as
    * [[percentileLinOf6]]).
    */
  def percentileMethodOf(arr: Column, p: Double, method: String): Column = {
    val h = (size(arr) - lit(1)).cast("double") * lit(p)
    val lo = floor(h)
    val idx = method match {
      case "lower"  => lo
      case "higher" => ceil(h)
      case "nearest" =>
        when(h - lo === 0.5,
          when(pmod(lo.cast("long"), lit(2L)) === 0, lo).otherwise(lo + 1))
          .otherwise(floor(h + lit(0.5)))
      case m => throw new IllegalArgumentException(s"bad method: $m")
    }
    when(size(arr) === 0, lit(null))
      .otherwise(element_at(arr, idx.cast("int") + 1))
  }

  def percentileMidpoint6(c: Column, p: Double): Column = {
    val arr = sort_array(collect_list(c))
    val h = (size(arr) - lit(1)).cast("double") * lit(p)
    val lo = element_at(arr, floor(h).cast("int") + 1)
    val hi = element_at(arr, ceil(h).cast("int") + 1)
    when(size(arr) === 0, lit(null)).otherwise(round((lo + hi) / 2, 6))
  }

  /** Scale path for quantiles: Spark's Greenwald-Khanna sketch
    * (bounded memory per group, mergeable across partitions) — use
    * when exact `percentile` (which buffers each group's values) won't
    * fit; `accuracy` trades memory for error <= 1/accuracy.
    */
  def percentileApprox(c: Column, p: Double, accuracy: Int = 10000): Column =
    percentile_approx(c, lit(p), lit(accuracy))

  /** Scale path for count-distinct: HyperLogLog++ (fixed-size sketch,
    * mergeable), rsd = relative standard deviation.
    */
  def countDistinctApprox(c: Column, rsd: Double = 0.02): Column =
    approx_count_distinct(c, rsd)

  /** Functions.difference: max - min. */
  def difference(c: Column): Column = max(c) - min(c)

  /** Value of the row with the smallest / largest timestamp
    * (Functions.first / last over a chronological collection).
    */
  def firstByTime(v: Column, ts: Column): Column = min_by(v, ts)
  def lastByTime(v: Column, ts: Column): Column = max_by(v, ts)

  // --- missing-value filter modes (pypond Filters) -------------------
  // SQL aggregates already skip nulls => ignore_missing is the default.

  /** Filters.zero_missing: treat missing as 0 (keeps cardinality). */
  def zeroMissing(c: Column): Column = coalesce(c, lit(0.0))

  /** Filters.propagate_missing: the whole aggregate is null if any
    * input value is missing. Wrap an aggregate:
    *   propagateMissing(avg(c), c)
    */
  def propagateMissing(agg: Column, c: Column): Column =
    when(count(when(c.isNull || isnan(c), lit(1))) > 0, lit(null)).otherwise(agg)

  /** Count of valid (non-null, non-NaN) values —
    * Collection.size_valid (pypond/collection.py:157).
    */
  def countValid(c: Column): Column = count(when(!(c.isNull || isnan(c)), lit(1)))

  /** Filters.none_if_empty (pypond/functions.py:69-75): the aggregate
    * is null when the group has NO valid values. SQL avg/sum are
    * already null there, so this only changes zero-default aggregates
    * (count) — wrap: noneIfEmpty(countValid(c), c).
    */
  def noneIfEmpty(agg: Column, c: Column): Column =
    when(countValid(c) === 0, lit(null)).otherwise(agg)

  /** Filters.keep_missing (pypond/functions.py:31-34): the no-op
    * filter — missing values stay in the group. Under SQL null-skipping
    * aggregates this equals ignore_missing for sum/avg; it is
    * observable through cardinality (count(*) vs countValid).
    */
  def keepMissing(c: Column): Column = c

  /** Functions.keep (pypond/functions.py:124): the group's single
    * unique non-null value, or null when values disagree (or none are
    * valid) — "carry the constant through the rollup". Distributed
    * form: min = max gates min — plain partial-aggregable min/max, no
    * distinct-aggregate expand, no per-group collect (empty groups:
    * null = null is SQL-null, so the whole gate stays null).
    */
  def keep(c: Column): Column =
    when(min(c) === max(c), min(c))

  /** The `Collection.aggregate(func)` / `Event.map_reduce` escape
    * hatch (collection.py:706, event.py:1134): pypond accepts ANY
    * Python callable over the collected field values; the
    * Spark-native equivalent is a typed `Aggregator`, which runs
    * DISTRIBUTED — so instead of one opaque list→scalar callable the
    * user supplies the three structured pieces (zero / per-value step
    * / partial-state merge, plus a finisher), and `merge` MUST be
    * associative and commutative because partitions fold
    * independently. Any reducer expressible over a running state fits
    * (and anything order-dependent should use a window fold instead).
    *
    * Returns a reusable Column builder:
    * {{{
    * // e.g. an L4 norm — no named Aggs reducer covers it
    * val l4 = Aggs.customReducer[(Double, Long)]((0.0, 0L),
    *   (b, x) => (b._1 + x * x * x * x, b._2 + 1),
    *   (a, b) => (a._1 + b._1, a._2 + b._2),
    *   b => math.pow(b._1 / b._2, 0.25))
    * df.groupBy("k").agg(l4(col("value")).as("l4"))
    * }}}
    * Named reducers stay preferable when one fits: a Catalyst column
    * expression is codegen'd, an Aggregator round-trips through the
    * encoder per row.
    */
  def customReducer[B](zeroB: B,
                       step: (B, Double) => B,
                       mergeB: (B, B) => B,
                       finishB: B => Double)(
      implicit be: org.apache.spark.sql.Encoder[B]): Column => Column = {
    // boxed input + explicit null skip: SQL aggregates (and pypond's
    // Filters.ignore_missing default) never feed missing values to
    // the reducer, and a bare Double input encoder would either throw
    // or silently coerce a NULL row to 0.0 — the boxed type makes the
    // skip explicit instead
    val agg = new org.apache.spark.sql.expressions.Aggregator[
        java.lang.Double, B, Double] {
      override def zero: B = zeroB
      override def reduce(b: B, a: java.lang.Double): B =
        if (a == null) b else step(b, a.doubleValue())
      override def merge(x: B, y: B): B = mergeB(x, y)
      override def finish(b: B): Double = finishB(b)
      override def bufferEncoder: org.apache.spark.sql.Encoder[B] = be
      override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
        org.apache.spark.sql.Encoders.scalaDouble
    }
    val f = udaf(agg)
    (c: Column) => f(c.cast("double"))
  }
}
