package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TimeIndex

/** Trend / continuity analysis over a keyed series — monitoring ops a
  * pypond user writes by hand on top of Pipeline.map (reference has no
  * built-ins for these; they complete the alerting family around
  * threshold crossings and z-score outliers).
  *
  * Every op here is the standard stateful-series shape: ONE hash
  * shuffle on the series key, then a per-partition ordered scan with
  * O(1) or O(span) state per row — no driver state, so millions of
  * series spread evenly over a 1000-executor cluster.
  */
object Trend {

  /** One-sided standard-normal 95th percentile, for the
    * Wilson–Hilferty χ² critical-value approximation in [[chi2Drift]]
    * (interpolated verbatim into its DuckDB oracle). */
  val Chi2Z95 = 1.6448536269514722

  /** Exponentially weighted moving average, recursive form
    * `s := (1-alpha)*s + alpha*x` folded oldest→newest over a trailing
    * window of `span` rows, seeded with the window's first value.
    *
    * The fold uses only IEEE add/multiply in a fixed left-to-right
    * order — no pow() — so results are bit-deterministic across
    * engines. Bounding
    * history at `span` rows differs from the infinite-history EWMA by
    * at most (1-alpha)^span (≈0.08% of the oldest value at defaults)
    * and keeps per-row state O(span) instead of O(history).
    *
    * Nulls are skipped (pypond's ignore_missing convention).
    *
    * Output is floored to µ-units (not rounded): round() half-ties at
    * the 6th decimal resolve differently across engines (surfaced at
    * sf0.1 — 6 rows in 100k), floor has no tie.
    *
    * The fold is a native window-frame aggregate (EwmaAgg: two scalar
    * buffer slots per frame) — the earlier collect_list + HOF
    * formulation materialized an O(span) array per row;
    * ExpressionParitySpec pins bit-parity between the two.
    */
  def ewma(df: DataFrame, tsCol: String, valCol: String, keyCols: Seq[String],
           alpha: Double = 0.3, span: Int = 20, out: String = "ewma"): DataFrame = {
    // value is the ORDER tie-break: equal-ts events then fold in a
    // deterministic order, keeping the result partition-independent
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(-(span - 1), 0)
    val fold = org.apache.spark.sql.graft.GraftExpressions
      .ewma_fold(col(valCol).cast("double"), alpha).over(w)
    df.withColumn(out, floor(fold * lit(1e6)) / lit(1e6))
  }

  /** The HOF formulation of [[ewma]]'s fold (collect_list + aggregate)
    * — kept as the parity witness: definitionally the same
    * left-to-right IEEE fold the DuckDB oracle runs.
    */
  def ewmaHof(df: DataFrame, tsCol: String, valCol: String,
              keyCols: Seq[String], alpha: Double = 0.3, span: Int = 20,
              out: String = "ewma"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(-(span - 1), 0)
    val fold = aggregate(
      slice(col("__l"), lit(2), greatest(size(col("__l")) - 1, lit(0))),
      element_at(col("__l"), 1),
      (acc, x) => acc * lit(1.0 - alpha) + x * lit(alpha))
    df.withColumn("__l", collect_list(col(valCol)).over(w))
      .withColumn(out, floor(fold * lit(1e6)) / lit(1e6))
      .drop("__l")
  }

  /** Gap detection: emit one row per consecutive-event pair whose time
    * delta exceeds `minGapUs` (data-loss / outage detection). Output:
    * keyCols, gap_begin, gap_end, gap_us.
    */
  def gaps(df: DataFrame, tsCol: String, keyCols: Seq[String],
           minGapUs: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    df.select((keyCols :+ tsCol).map(col): _*)
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .where(col("__prev").isNotNull && col(tsCol) - col("__prev") > minGapUs)
      .select(keyCols.map(col) ++ Seq(
        col("__prev").as("gap_begin"), col(tsCol).as("gap_end"),
        (col(tsCol) - col("__prev")).as("gap_us")): _*)
  }

  /** Largest-Triangle-Three-Buckets downsampling, parallel variant:
    * one representative point per (series, time bucket), chosen to
    * maximize the triangle area against the NEIGHBOR BUCKET MEAN
    * anchors. Classic sequential LTTB anchors on the previously
    * *selected* point — an inherently serial recurrence; anchoring on
    * the previous bucket's mean (the standard parallelization, and
    * LTTB's own right-anchor choice) makes every bucket independent,
    * so the whole downsample is two shuffles at any scale: one
    * (key, bucket) agg for the means + one window over the means
    * frame (#buckets rows), and the join back to pick argmax.
    *
    * Determinism across engines: anchors use exact arithmetic — x is
    * the bucket MIDPOINT (integer µs, not a float mean), y is the
    * exact decimal mean surfaced as double — and the area compare
    * breaks ties by (ts, value), so the argmax is bit-reproducible.
    * First/last buckets (no prev/next anchor) keep their earliest/
    * latest point, mirroring LTTB's fixed endpoints.
    *
    * Output: keyCols, bucket, tsCol, valCol.
    */
  def lttb(df: DataFrame, tsCol: String, valCol: String,
           keyCols: Seq[String], win: String): DataFrame = {
    val winUs = TimeIndex.durationUs(win)
    val half = winUs / 2L
    val keyC = keyCols.map(col)
    val pts = df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .withColumn("__b", TimeIndex.posOf(col(tsCol), win))
    val means = pts.groupBy(keyC :+ col("__b"): _*)
      .agg((graft.functions.Aggs.microsToD(
        sum(graft.functions.Aggs.micros(col(valCol))))
        / count(lit(1))).as("__ay"))
    val mw = Window.partitionBy(keyC: _*).orderBy(col("__b"))
    val anchored = means.select(keyC ++ Seq(col("__b"),
      lag(col("__b"), 1).over(mw).as("__pb"),
      lag(col("__ay"), 1).over(mw).as("__pay"),
      lead(col("__b"), 1).over(mw).as("__nb"),
      lead(col("__ay"), 1).over(mw).as("__nay")): _*)
    val px = col(tsCol).cast("double")
    val ax = (col("__pb") * lit(winUs) + lit(half)).cast("double")
    val cx = (col("__nb") * lit(winUs) + lit(half)).cast("double")
    val area = abs((ax - cx) * (col(valCol) - col("__pay"))
      - (ax - px) * (col("__nay") - col("__pay")))
    val sortKey = when(col("__pay").isNull, px)
      .when(col("__nay").isNull, -px)
      .otherwise(-area)
    val aw = Window.partitionBy(keyC :+ col("__b"): _*)
      .orderBy(sortKey, col(tsCol), col(valCol))
    pts.join(anchored, keyCols :+ "__b")
      .withColumn("__rn", row_number().over(aw))
      .where(col("__rn") === 1)
      .select(keyC ++ Seq(col("__b").as("bucket"), col(tsCol), col(valCol)): _*)
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per (series, bucket),
    * the four anchor points a pixel-perfect line rendering needs —
    * first, last, min, max — next to [[lttb]]'s shape-preserving
    * single point. Unlike LTTB this is PURE aggregation: min/max of
    * (value, ts) and (ts, value) structs, all partial-aggregable, so
    * the whole downsample is ONE map-side-combined shuffle with
    * reduce rows = #buckets — no window, no join.
    *
    * Tie-breaks are struct-lexicographic and deterministic: the min
    * point takes the EARLIEST ts among equal minima, the max point
    * the LATEST; first/last take the lowest/highest value at an
    * equal-ts edge.
    *
    * Output: keyCols, bucket, n, t_first, v_first, t_last, v_last,
    * vmin, tmin, vmax, tmax.
    */
  def m4(df: DataFrame, tsCol: String, valCol: String, keyCols: Seq[String],
         win: String): DataFrame = {
    val keyC = keyCols.map(col)
    df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .groupBy(keyC :+ TimeIndex.posOf(col(tsCol), win).as("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        min(struct(col(tsCol), col(valCol))).as("__f"),
        max(struct(col(tsCol), col(valCol))).as("__l"),
        min(struct(col(valCol), col(tsCol))).as("__mn"),
        max(struct(col(valCol), col(tsCol))).as("__mx"))
      .select(keyC ++ Seq(col("bucket"), col("n"),
        col(s"__f.$tsCol").as("t_first"), col(s"__f.$valCol").as("v_first"),
        col(s"__l.$tsCol").as("t_last"), col(s"__l.$valCol").as("v_last"),
        col(s"__mn.$valCol").as("vmin"), col(s"__mn.$tsCol").as("tmin"),
        col(s"__mx.$valCol").as("vmax"), col(s"__mx.$tsCol").as("tmax")): _*)
  }

  /** Trapezoidal integral of a series per calendar window — the inverse
    * of Rate: area = Σ (v_prev + v_cur)/2 · Δt_seconds over consecutive
    * pairs, each pair attributed to the window of its LEFT endpoint.
    * Output: keyCols, idx, area (µ-unit precision), n_segments.
    *
    * Segments are floored to integer micro-units and summed as BIGINT:
    * a double→DECIMAL cast rounds scaled-half ties differently per
    * engine (Spark BigDecimal half-up vs DuckDB scaled float rint), and
    * trapezoid areas (half-sums × whole seconds) land on those ties
    * constantly — floor(x·1e6) has no tie to round, so the sum is
    * bit-reproducible everywhere while still order-independent & exact.
    *
    * Scale shape: one shuffle on the series key for the lag, then a
    * map-side-combinable (key, idx) aggregation — reduce rows = #groups.
    */
  def integral(df: DataFrame, tsCol: String, valCol: String,
               keyCols: Seq[String], win: String): DataFrame = {
    // equal-ts pairs contribute zero area, but the value tie-break still
    // pins WHICH neighbor pairs with which — deterministic output
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
    val area = (col("__pv") + col(valCol)) / 2.0 *
      (col(tsCol) - col("__pt")).cast("double") /
      lit(TimeIndex.UsPerSec.toDouble)
    val areaMicro = floor(area * lit(1e6)).cast("long")
    df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .withColumn("__pt", lag(col(tsCol), 1).over(w))
      .withColumn("__pv", lag(col(valCol), 1).over(w))
      .where(col("__pt").isNotNull)
      .groupBy(keyCols.map(col) :+ TimeIndex.indexOf(col("__pt"), win).as("idx"): _*)
      .agg((sum(areaMicro).cast("double") / lit(1e6)).as("area"),
        count(lit(1)).as("n_segments"))
  }

  /** Time-based rolling statistics: for every event, count and mean of
    * the values in the trailing `spanUs` microseconds (inclusive of the
    * current instant) of the SAME series — pypond's "sliding by time,
    * not by rows". A RANGE frame over the epoch-µs long, so rows at
    * equal timestamps are frame PEERS and the result is independent of
    * their physical order — no tie-break column needed.
    *
    * Scale shape: identical to the row-frame rolling family — ONE hash
    * shuffle on the series key, then an ordered per-partition scan with
    * a two-pointer frame (state = the rows inside one span, O(span
    * density) not O(history)).
    */
  def rollingTime(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], spanUs: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rangeBetween(-spanUs, 0)
    df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .withColumn("n_span", count(lit(1)).over(w))
      .withColumn("avg_span", round(avg(col(valCol)).over(w), 6))
  }

  /** Per-series lag-`lagN` autocorrelation (sample Pearson correlation
    * of the series against itself shifted by `lagN` events) — the
    * standard "is this metric self-similar / periodic" screen.
    * Output: keyCols, n_pairs, autocorr (round-6; statistical aggregate
    * over many doubles, the same tie posture as avg/stdev).
    *
    * Scale shape: the lag window and the final aggregation hash on the
    * SAME series key, so Catalyst plans ONE exchange — the groupBy
    * reuses the window's partitioning.
    */
  def autocorr(df: DataFrame, tsCol: String, valCol: String,
               keyCols: Seq[String], lagN: Int = 1): DataFrame = {
    // value in the ORDER BY pins which rows pair up under equal-ts ties
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
    df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .withColumn("__prev", lag(col(valCol), lagN).over(w))
      .where(col("__prev").isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col(valCol), col("__prev")), 6).as("autocorr"))
  }

  /** Multi-lag autocorrelation function (the correlogram, lags
    * 1..maxLag) — the full view behind [[autocorr]]'s single probe and
    * the time-domain dual of [[periodogram]]'s spectral screen: WHICH
    * lags does a series remember. Pairs (v_t, v_{t−L}) come from
    * maxLag lag() columns over ONE ordered window pass, stacked
    * scan-side; degenerate (key, lag) groups (< 2 pairs or zero
    * variance on either side — ANSI corr faults on them) are excluded
    * before the aggregate, the [[crossCorr]] posture.
    *
    * Scale shape: ONE key-hash shuffle end to end — the lag window,
    * the degeneracy windows on (key, lag), and the (key, lag) corr
    * agg are all clustering-satisfied by hash(key); the lag fan-out
    * (×maxLag) happens scan-side after the window.
    *
    * Output: keyCols, lag, n_pairs, acf.
    */
  def acf(df: DataFrame, tsCol: String, valCol: String,
          keyCols: Seq[String], maxLag: Int = 7): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
    // r16 (guide §2): pin the key exchange's width — the lag windows,
    // the maxLag-way explode, the degeneracy windows and the corr agg
    // all cluster by (a superset of) the key, so this ONE explicit
    // exchange replaces the implicit window exchange (same bytes, same
    // key) instead of adding a shuffle; AQE byte-coalescing otherwise
    // parks the whole per-key pipeline on 1–2 partitions.
    val lagged = (1 to maxLag).foldLeft(
      Par.spread(df.select((keyCols :+ tsCol :+ valCol).map(col): _*),
        keyCols.map(col): _*)) {
      (d, l) => d.withColumn(s"__p$l", lag(col(valCol), l).over(w))
    }
    val stacked = lagged.select(keyCols.map(col) :+ col(valCol).as("__v") :+
        explode(array((1 to maxLag).map(l =>
          struct(lit(l).as("lag"), col(s"__p$l").as("prev"))): _*)).as("__e"): _*)
      .select(keyCols.map(col) :+ col("__v") :+
        col("__e.lag").as("lag") :+ col("__e.prev").as("__prev"): _*)
      .where(col("__prev").isNotNull)
    val wg = Window.partitionBy((keyCols.map(col) :+ col("lag")): _*)
    stacked
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__sx", stddev_samp(col("__v")).over(wg))
      .withColumn("__sy", stddev_samp(col("__prev")).over(wg))
      .where(col("__n") >= 2 && col("__sx") > 0 && col("__sy") > 0)
      .groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("__v"), col("__prev")), 6).as("acf"))
  }

  /** Lag CROSS-correlation between two keyed series on a shared time
    * grid: Pearson correlation of x(t) against y(t + lag·stepUs) for
    * each requested lag — "does series y follow series x, and at what
    * delay" (the leading-indicator screen [[autocorr]] runs against a
    * single series). Pairs exist only where BOTH series have a sample
    * at the lagged grid point, so feed it aligned/rolled-up frames.
    * Output: keyCols, lag, n_pairs, xcorr (round-6, the same tie
    * posture as autocorr). Degenerate groups (under 2 pairs, or zero
    * variance on either side) are dropped on both engines.
    *
    * Scale shape: the lag fan-out explodes the X side by |lags| (a
    * handful), then ONE equi-join shuffle per side on
    * (key, lagged time) — never a per-key cross product; the corr
    * agg re-shuffles only (key, lag) pair rows.
    */
  def crossCorr(x: DataFrame, y: DataFrame, tsCol: String, valCol: String,
                keyCols: Seq[String], stepUs: Long,
                lags: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    val xs = x.select((keyCols.map(col) :+ col(tsCol).as("__xt")
      :+ col(valCol).as("__xv")): _*)
      .withColumn("lag", explode(array(lags.map(lit): _*)))
    val ys = y.select((keyCols.map(col) :+ col(tsCol).as("__yt")
      :+ col(valCol).as("__yv")): _*)
    val cond = keyCols.map(k => xs(k) === ys(k)).reduce(_ && _) &&
      ys("__yt") === xs("__xt") + col("lag").cast("long") * lit(stepUs)
    val paired = xs.join(ys, cond)
      .select((keyCols.map(xs(_)) :+ col("lag")
        :+ col("__xv") :+ col("__yv")): _*)
    // degenerate groups (<2 pairs, or zero variance on either side)
    // have no correlation — and ANSI mode faults corr's internal
    // divide on them, so they must be EXCLUDED before the agg, not
    // cleaned up after; the window shares the agg's partitioning
    val wg = Window.partitionBy((keyCols.map(col) :+ col("lag")): _*)
    paired
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__sx", stddev_samp(col("__xv")).over(wg))
      .withColumn("__sy", stddev_samp(col("__yv")).over(wg))
      .where(col("__n") >= 2 && col("__sx") > 0 && col("__sy") > 0)
      .groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("__xv"), col("__yv")), 6).as("xcorr"))
  }

  /** Holt double-exponential smoothing (level + linear trend) over a
    * trailing `span`-row window — the trend-aware upgrade of [[ewma]]:
    * level tracks the local mean, trend the local slope, and
    * level + trend is the classic one-step-ahead forecast. Seeded with
    * (first value, 0); the float fold order is pinned inside the
    * native HoltAgg window aggregate so results are bit-deterministic
    * across engines (outputs are µ-unit floors, the ewma contract).
    *
    * Scale shape: identical to ewma — ONE hash shuffle on the series
    * key, two scalar buffer slots per frame, no O(span) array ever
    * materialized.
    *
    * Output: input columns + `level` + `trend`.
    */
  def holt(df: DataFrame, tsCol: String, valCol: String, keyCols: Seq[String],
           alpha: Double = 0.3, beta: Double = 0.2,
           span: Int = 20): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(-(span - 1), 0)
    val fold = org.apache.spark.sql.graft.GraftExpressions
      .holt_fold(col(valCol).cast("double"), alpha, beta).over(w)
    df.withColumn("__h", fold)
      .withColumn("level", floor(col("__h.level") * lit(1e6)) / lit(1e6))
      .withColumn("trend", floor(col("__h.trend") * lit(1e6)) / lit(1e6))
      .drop("__h")
  }

  /** Additive Holt-Winters triple smoothing (level + trend +
    * seasonal, period `m`) over a trailing `span`-row window — the
    * season-aware member of the [[ewma]]/[[holt]] family: level +
    * trend + next season's component is the classic seasonal
    * one-step forecast. Seeded (first value, 0 trend, zero seasonal
    * profile); the fold order is pinned inside the native HwAgg
    * window aggregate so results are bit-deterministic across engines
    * (outputs are µ-unit floors, the ewma contract).
    *
    * Scale shape: identical to holt — ONE hash shuffle on the series
    * key; per-frame state is two scalars + the O(period) seasonal
    * array, never an O(history) collect.
    *
    * Output: input columns + `level` + `trend` + `seasonal` +
    * `forecast` (= level + trend + next slot's seasonal component —
    * the classic one-step-ahead seasonal forecast, summed on the raw
    * state before the µ-floor).
    */
  def holtWinters(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], alpha: Double = 0.3,
                  beta: Double = 0.2, gamma: Double = 0.3,
                  period: Int = 7, span: Int = 28): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(-(span - 1), 0)
    val fold = org.apache.spark.sql.graft.GraftExpressions
      .hw_fold(col(valCol).cast("double"), alpha, beta, gamma, period).over(w)
    df.withColumn("__hw", fold)
      .withColumn("level", floor(col("__hw.level") * lit(1e6)) / lit(1e6))
      .withColumn("trend", floor(col("__hw.trend") * lit(1e6)) / lit(1e6))
      .withColumn("seasonal",
        floor(col("__hw.seasonal") * lit(1e6)) / lit(1e6))
      .withColumn("forecast",
        floor((col("__hw.level") + col("__hw.trend") + col("__hw.ahead"))
          * lit(1e6)) / lit(1e6))
      .drop("__hw")
  }

  /** CUSUM positive-drift detector (Page's cumulative sum) — the
    * change-point member of the alerting family next to threshold
    * crossings and z-score outliers: S_0 = 0,
    * S_i = max(0, S_{i-1} + (x_i - target)), alarm while S_i > h.
    *
    * The recursive max is rewritten as window algebra so no row ever
    * sees more than O(1) state: with P_i the running prefix sum of
    * (x_i - target), S_i = P_i - min(0, min_{j<=i} P_j) — a running
    * sum plus a running min over the SAME ordered frame, both plain
    * prefix aggregates. Emits only the alarm rows.
    *
    * Determinism across engines: values enter as tie-free µ-unit
    * floors (floor(x·1e6) BIGINT), so the prefix sums are exact
    * integers — no float-summation order sensitivity — and `cusum`
    * surfaces as that integer over 1e6. Equal-ts rows are ordered by
    * value; rows identical in (ts, value) are interchangeable, so the
    * output multiset is still unique.
    *
    * Scale shape: ONE hash shuffle on the series key, then a single
    * ordered per-partition scan computing both running aggregates —
    * the same posture as align/rate/fill.
    *
    * Output: keyCols, tsCol, valCol, cusum (alarm rows only).
    */
  def cusum(df: DataFrame, tsCol: String, valCol: String,
            keyCols: Seq[String], target: Double, h: Double): DataFrame = {
    val targetUs = math.round(target * 1e6)
    val hUs = math.round(h * 1e6)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val yUs = floor(col(valCol) * lit(1e6)).cast("long") - lit(targetUs)
    df.select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .withColumn("__p", sum(yUs).over(w))
      .withColumn("__m", least(lit(0L), min(col("__p")).over(w)))
      .withColumn("__s", col("__p") - col("__m"))
      .where(col("__s") > hUs)
      .withColumn("cusum", col("__s").cast("double") / lit(1e6))
      .drop("__p", "__m", "__s")
  }

  /** Discrete-Fourier periodogram over a keyed series: spectral power
    * at integer frequencies k = 1..maxK cycles per series — the
    * "WHICH period dominates" screen that generalizes [[autocorr]]'s
    * single-lag probe and feeds [[Rollup]] window choices. The series
    * is first averaged onto a regular `bucketUs` grid, then indexed by
    * SAMPLE position (dense rank over observed buckets, so gaps don't
    * shift the spectrum's domain), and for each k
    * power_k = (Σ v·cos(2πk·i/n))² + (Σ v·sin(2πk·i/n))², normalized
    * by n² so amplitudes are scale-free. The series mean needs no
    * centering: integer-k cosines sum to zero over a full cycle, so a
    * constant offset contributes nothing to k ≥ 1.
    *
    * Cross-engine parity: cos/sin terms are rounded to 6dp (libm may
    * differ at the last ulp), each v·c product snaps to integer
    * µ-units before an exact long sum (order-independent), and only
    * the final power is re-rounded.
    *
    * Scale shape: grid pre-agg is a partial-agg'd (key, bucket)
    * shuffle that collapses raw events to ≤ one row per grid point;
    * the window indexes on the series key; the k fan-out (a handful)
    * explodes AFTER the collapse; the final (key, k) agg is
    * partial-aggregable. Never a per-key collect.
    *
    * Output: keyCols, k, n_samples, power.
    */
  def periodogram(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], bucketUs: Long,
                  maxK: Int = 6): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.fldiv
    val g = df
      .groupBy(keyCols.map(col) :+ fldiv(col(tsCol), bucketUs).as("__i"): _*)
      .agg(round(avg(col(valCol)), 6).as("__v"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__i"))
    val wk = Window.partitionBy(keyCols.map(col): _*)
    val angle = lit(2.0) * lit(math.Pi) * col("k").cast("double") *
      col("__idx").cast("double") / col("__n").cast("double")
    val c = round(cos(angle), 6)
    val sn = round(sin(angle), 6)
    val muSum = (t: org.apache.spark.sql.Column) =>
      sum(round(t * lit(1e6)).cast("long")).cast("double") / lit(1e6)
    g.withColumn("__idx", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("k", explode(sequence(lit(1), lit(maxK))))
      .groupBy(keyCols.map(col) :+ col("k") :+ col("__n"): _*)
      .agg(muSum(col("__v") * c).as("__sc"), muSum(col("__v") * sn).as("__ss"))
      .select(keyCols.map(col) :+ col("k") :+ col("__n").as("n_samples") :+
        round((col("__sc") * col("__sc") + col("__ss") * col("__ss")) /
          col("__n").cast("double") / col("__n").cast("double"), 6)
          .as("power"): _*)
  }

  /** Theil–Sen robust trend per series: the MEDIAN of all pairwise
    * slopes over the bucketed grid — the estimator that shrugs off the
    * outliers that drag [[graft.SparkEntry]]'s OLS `ts_trend_slope`
    * (breakdown point ~29% vs 0%). Intercept is the Sen variant
    * median(v_i - slope·d_i), so level shifts are robust too.
    *
    * Scale shape: the raw series is reduced FIRST by one (key, bucket)
    * partial-agg'd shuffle — the only stage that touches corpus rows.
    * The pairwise self-join runs on that grid, whose size per key is
    * bounded by the CALENDAR (days in range), not the corpus, so the
    * O(days²) pair fan-out is a fixed constant per key (90 days →
    * ~4k pairs) no matter how many raw events back each bucket.
    *
    * Cross-engine exactness: bucket means are exact decimal sums over
    * doubles (order-independent), slopes divide those identical
    * doubles by integer day gaps (same IEEE op both engines), and the
    * medians are linear-interpolation percentiles — the same parity
    * chain ts_lttb / ts_agg_stats already pin.
    *
    * Keys with a single populated bucket have no pairs and are
    * dropped (no slope is defined). Output: keyCols, n_days, n_pairs,
    * slope_per_day, intercept (value at day 0 = originUs).
    */
  /** Population Stability Index between two time periods of a keyed
    * series — the standard drift monitor a training-data pipeline runs
    * before trusting a feature: PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b)
    * over a fixed-width value histogram, period A = ts < splitUs,
    * period B = the rest. Rule of thumb: <0.1 stable, 0.1–0.25 drifting,
    * >0.25 shifted.
    *
    * Bins use the ts_hist geometry (width · nBins, clamped). Add-½
    * smoothing keeps empty-on-one-side bins finite; both periods share
    * one scan and ONE (key, bin) partial-agg'd shuffle — reduce rows =
    * #keys × #bins at any corpus scale. Bins empty in BOTH periods
    * still carry a term under the smoothing whenever n_a ≠ n_b
    * (pa = ½/(n_a+½·nBins) ≠ pb); since every such bin contributes
    * the SAME term, it is added in closed form as
    * (nBins − observedBins) · term₀ after the aggregate — the full
    * smoothed-histogram PSI without materializing empty bins.
    *
    * Cross-engine exactness: counts are integers, probabilities divide
    * identical doubles, and each ln lands as integer micro-nats before
    * the per-key sum (the doc_dsir / doc_lm_score idiom) — PSI terms
    * are non-negative products of same-sign factors, so the snap has
    * no signed-rounding hazard.
    *
    * Output: keyCols, n_a, n_b, psi.
    */
  def psiDrift(df: DataFrame, tsCol: String, valCol: String,
               keyCols: Seq[String], splitUs: Long,
               binWidth: Double, nBins: Int): DataFrame = {
    val b = least(greatest(floor(col(valCol) / lit(binWidth)), lit(0)),
      lit(nBins - 1)).cast("int")
    val inA = when(col(tsCol) < lit(splitUs), 1L).otherwise(0L)
    val counts = df
      .select((keyCols.map(col) :+ b.as("__b") :+ inA.as("__ina")): _*)
      .groupBy(keyCols.map(col) :+ col("__b"): _*)
      .agg(sum(col("__ina")).as("__ca"),
        sum(lit(1L) - col("__ina")).as("__cb"))
    val wk = Window.partitionBy(keyCols.map(col): _*)
    val smooth = lit(0.5 * nBins)
    val pa = (col("__ca").cast("double") + lit(0.5)) /
      (col("__na").cast("double") + smooth)
    val pb = (col("__cb").cast("double") + lit(0.5)) /
      (col("__nb").cast("double") + smooth)
    val lnU = (x: org.apache.spark.sql.Column) =>
      round(log(x) * lit(1e6)).cast("long")
    val aggd = counts
      .withColumn("__na", sum(col("__ca")).over(wk))
      .withColumn("__nb", sum(col("__cb")).over(wk))
      .withColumn("__cu", round((pa - pb) *
        (lnU(pa) - lnU(pb)).cast("double")).cast("long"))
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        count(lit(1)).as("__nobs"), sum(col("__cu")).as("__scu"))
    // the shared term of every bin empty in both periods (ca=cb=0)
    val pa0 = lit(0.5) / (col("n_a").cast("double") + smooth)
    val pb0 = lit(0.5) / (col("n_b").cast("double") + smooth)
    val cu0 = round((pa0 - pb0) *
      (lnU(pa0) - lnU(pb0)).cast("double")).cast("long")
    aggd
      .withColumn("psi", round(
        (col("__scu") + (lit(nBins.toLong) - col("__nobs")) * cu0)
          .cast("double") / lit(1e6), 6))
      .select(keyCols.map(col) :+ col("n_a") :+ col("n_b") :+ col("psi"): _*)
  }

  /** Kleinberg-style burst detection per series: the online
    * forward-Viterbi state of the two-state rate model over
    * inter-event gaps (see [[org.apache.spark.sql.graft.BurstAgg]]) —
    * WHEN did this series enter/leave a burst, the rate-side sibling
    * of the value-side alerting family (crossings / cusum / bands).
    *
    * Bounded-history refold (trailing `span` gaps per row — the
    * Holt/EWMA convention), so per-row state is O(span) and the
    * identical fold streams. Each key's first event has no gap and is
    * dropped. Output: keyCols, tsCol, gap_s, burst, score (µ-floored
    * c0−c1 — positive inside a burst).
    *
    * ONE hash shuffle on the series key: the gap lag and the fold
    * window share the same partitioning.
    */
  def burst(df: DataFrame, tsCol: String, keyCols: Seq[String],
            lam0: Double, lam1: Double, gamma: Double,
            span: Int = 20): DataFrame = {
    val wLag = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val wF = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(-(span - 1), 0)
    val gap = (col(tsCol) - lag(col(tsCol), 1).over(wLag)).cast("double") /
      lit(TimeIndex.UsPerSec.toDouble)
    val fold = org.apache.spark.sql.graft.GraftExpressions
      .burst_fold(col("__gap"), lam0, lam1, gamma).over(wF)
    df.select((keyCols :+ tsCol).map(col): _*)
      .withColumn("__gap", gap)
      .where(col("__gap").isNotNull)
      .withColumn("__st", fold)
      .select(keyCols.map(col) :+ col(tsCol) :+ col("__gap").as("gap_s") :+
        (col("__st.c1") < col("__st.c0")).as("burst") :+
        (floor((col("__st.c0") - col("__st.c1")) * lit(1e6)) / lit(1e6))
          .as("score"): _*)
  }

  /** Chi-square drift test for a CATEGORICAL column per key — the
    * third member of the drift trio ([[psiDrift]] binned-numeric,
    * [[ksDrift]] continuous): did the category MIX shift between the
    * two periods? χ² over the 2×C contingency table (periods ×
    * categories), expected counts from the margins, with the α=0.05
    * critical value for the observed dof so `drifted` is a decision.
    * The critical value is exact (to 3dp) for dof ≤ 10 and the
    * Wilson–Hilferty cube approximation k·(1 − 2/(9k) + z·√(2/(9k)))³
    * beyond — within ~0.2% of exact — so high-cardinality categorical
    * columns don't over-fire `drifted` (the cube is expanded as plain
    * left-associated multiplies on both engines: identical IEEE ops,
    * no libm pow divergence).
    *
    * Cross-engine exactness: counts are integers, each cell
    * (o−e)²/e divides identical doubles, and every cell snaps to
    * integer micro-units BEFORE the per-key sum (double summation
    * order never matters). ONE (key, category) partial-agg'd shuffle
    * touches events; the margins re-key the #keys×#categories frame.
    *
    * Output: keyCols, n_a, n_b, dof, chi2, chi2_crit95, drifted
    * (keys with a single observed category have dof 0 and never
    * drift).
    */
  def chi2Drift(df: DataFrame, tsCol: String, catCol: String,
                keyCols: Seq[String], splitUs: Long): DataFrame = {
    val inA = when(col(tsCol) < lit(splitUs), 1L).otherwise(0L)
    val counts = df
      .select((keyCols.map(col) :+ col(catCol) :+ inA.as("__ina")): _*)
      .groupBy(keyCols.map(col) :+ col(catCol): _*)
      .agg(sum(col("__ina")).as("__ca"),
        sum(lit(1L) - col("__ina")).as("__cb"))
    val wk = Window.partitionBy(keyCols.map(col): _*)
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val nc = (col("__ca") + col("__cb")).cast("double")
    val n = (col("__na") + col("__nb")).cast("double")
    def cell(o: Column, margin: Column): Column = {
      val e = margin * nc / n
      // an empty period margin degenerates the table: define 0, not NaN
      when(e === 0.0, lit(0.0))
        .otherwise((o.cast("double") - e) * (o.cast("double") - e) / e)
    }
    val cellU = round((cell(col("__ca"), na) + cell(col("__cb"), nb)) *
      lit(1e6)).cast("long")
    val kd = col("dof").cast("double")
    val whT = lit(1.0) - lit(2.0) / (lit(9.0) * kd) +
      lit(Chi2Z95) * sqrt(lit(2.0) / (lit(9.0) * kd))
    val crit = when(col("dof") <= 0, lit(0.0))
      .when(col("dof") === 1, 3.841).when(col("dof") === 2, 5.991)
      .when(col("dof") === 3, 7.815).when(col("dof") === 4, 9.488)
      .when(col("dof") === 5, 11.07).when(col("dof") === 6, 12.592)
      .when(col("dof") === 7, 14.067).when(col("dof") === 8, 15.507)
      .when(col("dof") === 9, 16.919).when(col("dof") === 10, 18.307)
      .otherwise(round(kd * whT * whT * whT, 3))
    counts
      .withColumn("__na", sum(col("__ca")).over(wk))
      .withColumn("__nb", sum(col("__cb")).over(wk))
      .withColumn("__cu", cellU)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        (count(lit(1)) - 1).as("dof"),
        round(sum(col("__cu")).cast("double") / lit(1e6), 6).as("chi2"))
      .withColumn("chi2_crit95", crit)
      .withColumn("drifted", col("dof") >= 1 && col("chi2") > col("chi2_crit95"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift test per key —
    * [[psiDrift]]'s binning-free sibling: D = max_x |F_A(x) − F_B(x)|
    * over the pooled sample, period A = ts < splitUs. Reported next to
    * the α=0.05 critical value 1.358·√((n_a+n_b)/(n_a·n_b)) so the
    * drifted flag is a decision, not a rule of thumb.
    *
    * ONE hash shuffle on the key: the ECDFs are cumulative counts over
    * a value-ordered RANGE frame (peers included, so ties contribute
    * identically in any engine), the max folds in the same pass, and
    * the final per-key agg reuses the window's partitioning.
    *
    * Cross-engine exactness: counts are integers, each |ca/na − cb/nb|
    * divides identical doubles, max is order-independent; only the
    * reported statistic is rounded.
    *
    * Output: keyCols, n_a, n_b, ks_d, ks_crit95, drifted.
    */
  def ksDrift(df: DataFrame, tsCol: String, valCol: String,
              keyCols: Seq[String], splitUs: Long): DataFrame = {
    val wOrd = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(valCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val inA = when(col(tsCol) < lit(splitUs), 1L).otherwise(0L)
    val base = df
      .select((keyCols.map(col) :+ col(valCol) :+ inA.as("__ina")): _*)
      .withColumn("__ca", sum(col("__ina")).over(wOrd))
      .withColumn("__cb", sum(lit(1L) - col("__ina")).over(wOrd))
      .withColumn("__na", sum(col("__ina")).over(wAll))
      .withColumn("__nb", sum(lit(1L) - col("__ina")).over(wAll))
    val gap = abs(col("__ca").cast("double") / col("__na").cast("double") -
      col("__cb").cast("double") / col("__nb").cast("double"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val crit = lit(1.358) * sqrt((naD + nbD) / (naD * nbD))
    base.groupBy(keyCols.map(col): _*)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(max(gap), 6).as("ks_d"))
      .withColumn("ks_crit95", round(crit, 6))
      .withColumn("drifted", col("ks_d") > col("ks_crit95"))
  }

  def theilSen(df: DataFrame, tsCol: String, valCol: String,
               keyCols: Seq[String], bucketUs: Long,
               originUs: Long): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.fldiv
    val grid0 = df
      .select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .groupBy(keyCols.map(col) :+
        fldiv(col(tsCol) - lit(originUs), bucketUs).as("__d"): _*)
      .agg((sum(col(valCol).cast("decimal(38,6)")).cast("double") /
        count(lit(1))).as("__v"))
    // r16 (guide §2): pin the key exchange's width — the pairwise
    // slope fan-out (O(days²) per key) and both percentile aggs
    // cluster by the key, so this explicit exchange replaces the
    // self-join's implicit one (ReuseExchange dedups the two sides);
    // AQE byte-coalescing otherwise runs the whole per-key pair
    // explosion on 1–2 partitions.
    val grid = Par.spread(grid0, keyCols.map(col): _*)
    val a = grid.as("a")
    val b = grid.as("b")
    val pairCond = keyCols.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.__d") < col("b.__d")
    val slopes = a.join(b, pairCond)
      .select(keyCols.map(k => col(s"a.$k").as(k)) :+
        ((col("b.__v") - col("a.__v")) /
          (col("b.__d") - col("a.__d")).cast("double")).as("__sl"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(percentile(col("__sl"), lit(0.5)), 6).as("slope_per_day"))
    grid.join(slopes, keyCols)
      .groupBy(keyCols.map(col) :+ col("n_pairs") :+
        col("slope_per_day"): _*)
      .agg(count(lit(1)).as("n_days"),
        round(percentile(
          col("__v") - col("slope_per_day") * col("__d").cast("double"),
          lit(0.5)), 6).as("intercept"))
      .select(keyCols.map(col) :+ col("n_days") :+ col("n_pairs") :+
        col("slope_per_day") :+ col("intercept"): _*)
  }

  /** FLOOR division with a COLUMN divisor (Bridge.fldiv takes a
    * literal): (c - pmod(c, d)) div d — the numerator is an exact
    * multiple of d, so the truncating IntegralDivide is exact floor
    * for negative numerators too. Null when d = 0 (IntegralDivide's
    * SQL semantics), which callers use as their empty-group guard.
    */
  private def fldivC(c: Column, d: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.ldiv
    ldiv(c - pmod(c, d), d)
  }

  /** Single most-likely MEAN-SHIFT changepoint per series — binary
    * segmentation's first split (the CUSUM-likelihood statistic; cf.
    * Scott & Knott 1974, and the first iteration of PELT/BinSeg).
    * [[cusum]] ALARMS when drift accumulates past a threshold; this op
    * answers the follow-up question "WHEN did the level change, and by
    * how much" — the localization step a monitoring pipeline runs
    * after the alarm fires.
    *
    * Runs on the bucketed grid (one µ-floored mean per (key, bucket)),
    * so the O(#buckets) split scan is calendar-bounded per key, never
    * O(events) — the exact posture of [[theilSen]]. For each interior
    * split i the gain is the between-segment sum-of-squares reduction
    *   gain(i) = (S_l·n_r − S_r·n_l)² / (n_l·n_r·n)   [µ²-units]
    * computed in double from EXACT integer prefix sums (grid means are
    * exact µ-unit floors, prefix/total sums are BIGINTs), so both
    * engines replay identical IEEE sequences; the argmax tie-breaks on
    * the earlier day. Keys with a single bucket have no interior split
    * and emit nothing.
    *
    * Scale: one (key, bucket) partial-agg'd shuffle touches events;
    * the split-scan windows re-key the #buckets-per-key grid frame.
    * Output: keyCols, n_days, cp_day (last bucket of the left
    * segment), mean_before, mean_after, gain.
    */
  def changepoint(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], bucketUs: Long,
                  originUs: Long): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.fldiv
    val grid = df
      .select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .groupBy(keyCols.map(col) :+
        fldiv(col(tsCol) - lit(originUs), bucketUs).as("__d"): _*)
      .agg(sum(floor(col(valCol) * lit(1e6)).cast("long")).as("__s6"),
        count(lit(1)).as("__c"))
      .withColumn("__v", fldivC(col("__s6"), col("__c")))
    val wOrd = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__d"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val st = grid
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__pl", sum(col("__v")).over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__tot", sum(col("__v")).over(wAll))
      .where(col("__i") < col("__n"))
    val nl = col("__i")
    val nr = col("__n") - col("__i")
    val diff = (col("__pl") * nr - (col("__tot") - col("__pl")) * nl)
      .cast("double")
    val gain = round(diff * diff /
      (nl * nr * col("__n")).cast("double") / lit(1e12), 6)
    val wPick = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__gain").desc, col("__d").asc)
    st.withColumn("__gain", gain)
      .withColumn("__rk", row_number().over(wPick))
      .where(col("__rk") === 1)
      .select(keyCols.map(col) ++ Seq(
        col("__n").as("n_days"), col("__d").as("cp_day"),
        (fldivC(col("__pl"), nl).cast("double") / lit(1e6))
          .as("mean_before"),
        (fldivC(col("__tot") - col("__pl"), nr).cast("double") / lit(1e6))
          .as("mean_after"),
        col("__gain").as("gain")): _*)
  }

  /** Classical additive seasonal decomposition (the moving-average
    * "decompose" every stats package ships; STL's non-iterative
    * ancestor): value = trend + seasonal + residual over the bucketed
    * grid with a fixed period (default 7 — day-of-week structure on a
    * daily grid).
    *
    * trend = centered `period`-row moving average (null at the edges
    * where the frame is short — the classical convention); seasonal =
    * per-(key, bucket mod period) mean of the detrended values,
    * normalized to sum to ~zero across the period; residual = value −
    * trend − seasonal. Every mean is an exact integer µ-unit FLOOR
    * (floor-div of exact BIGINT sums), so both engines agree bit-
    * for-bit with no half-tie hazard anywhere, and the decomposition
    * identity holds EXACTLY on the µ-integers (each output column is
    * its own µ-int / 1e6 — comparing the doubles re-summed is off by
    * ulps, the µ-ints never are).
    *
    * Scale: the (key, bucket) grid agg is the only stage touching
    * events; the trend window (key), season window (key, dow) and
    * normalization window (key) re-key the calendar-bounded grid
    * frame (≤366 rows per key per year) — 4 slim exchanges total.
    * Output: keyCols, day, value, trend, seasonal, resid (doubles;
    * trend/seasonal/resid null where the trend frame is short).
    */
  def stlDecompose(df: DataFrame, tsCol: String, valCol: String,
                   keyCols: Seq[String], bucketUs: Long, originUs: Long,
                   period: Int = 7): DataFrame = {
    require(period % 2 == 1, s"period must be odd for a centered MA: $period")
    import org.apache.spark.sql.graft.Bridge.fldiv
    val half = period / 2
    // r16 (guide §2): every window below clusters by (a superset of)
    // the key, so the whole decomposition chain runs off ONE key
    // exchange — which AQE byte-coalesces to 1–2 partitions. The
    // explicit spread replaces that exchange 1:1 at pinned width
    // (rows = one per (key, day) bucket at any scale).
    val grid = Par.spread(df
      .select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .groupBy(keyCols.map(col) :+
        fldiv(col(tsCol) - lit(originUs), bucketUs).as("__d"): _*)
      .agg(sum(floor(col(valCol) * lit(1e6)).cast("long")).as("__s6"),
        count(lit(1)).as("__c"))
      .withColumn("__v", fldivC(col("__s6"), col("__c"))),
      keyCols.map(col): _*)
    val wMa = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__d"))
      .rowsBetween(-half, half)
    val wDow = Window.partitionBy(
      (keyCols.map(col) :+ pmod(col("__d"), lit(period.toLong))): _*)
    val wDowOrd = Window.partitionBy(
        (keyCols.map(col) :+ pmod(col("__d"), lit(period.toLong))): _*)
      .orderBy(col("__d"))
    val wKey = Window.partitionBy(keyCols.map(col): _*)
    val det = grid
      .withColumn("__tr", when(count(lit(1)).over(wMa) === period,
        fldivC(sum(col("__v")).over(wMa), lit(period.toLong))))
      .withColumn("__det", col("__v") - col("__tr"))
    // per-(key, dow) raw seasonal mean over the non-null detrended
    // rows (zero-count guard: keys shorter than the period have no
    // detrended rows at all — ANSI div-by-zero must not fire)
    val nDet = count(col("__det")).over(wDow)
    val raw = det
      .withColumn("__raw", when(nDet > 0,
        fldivC(sum(col("__det")).over(wDow), nDet)))
      .withColumn("__f",
        (row_number().over(wDowOrd) === 1).cast("long"))
    // normalize: subtract the mean of the (≤ period) distinct raw
    // values, counted ONCE per dow via the first-row flag
    val nRaw = sum(when(col("__f") === 1 && col("__raw").isNotNull,
      lit(1L))).over(wKey)
    val seas = raw
      .withColumn("__m", when(nRaw > 0, fldivC(
        sum(when(col("__f") === 1, col("__raw"))).over(wKey), nRaw)))
      .withColumn("__seas", col("__raw") - col("__m"))
    seas.select(keyCols.map(col) ++ Seq(
      col("__d").as("day"),
      (col("__v").cast("double") / lit(1e6)).as("value"),
      (col("__tr").cast("double") / lit(1e6)).as("trend"),
      (col("__seas").cast("double") / lit(1e6)).as("seasonal"),
      ((col("__v") - col("__tr") - col("__seas")).cast("double") / lit(1e6))
        .as("resid")): _*)
  }

  /** Decomposition-residual anomaly screen — the textbook use of
    * [[stlDecompose]]: z-score each day's RESIDUAL against the key's
    * own residual distribution, so anomalies are judged after trend
    * and weekly seasonality are explained away (a Friday spike that is
    * merely "Fridays run hot" never fires; [[Trend]]'s plain z-screen
    * and the hour-of-day profile both lack the trend term). Emits only
    * the flagged days.
    *
    * Residuals are exact µ-integers, per-key mean is an exact µ-floor,
    * σ comes from exact decimal sums through one fixed IEEE formula
    * (the [[sax]] stats convention), so the flag set is engine-exact.
    * σ = 0 or a single residual → no flags for that key.
    *
    * Scale: the [[stlDecompose]] chain + one per-key stats agg
    * broadcast back over the decomposition (the ts_mad two-pass
    * posture; the decomposition is localCheckpoint'd so it computes
    * once). Output: keyCols, day, value, resid, z (flagged rows only).
    */
  def stlOutliers(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], bucketUs: Long, originUs: Long,
                  period: Int = 7, zThresh: Double = 3.0): DataFrame = {
    val dec = stlDecompose(df, tsCol, valCol, keyCols, bucketUs, originUs,
      period).localCheckpoint(false)
    val r6 = round(col("resid") * lit(1e6)).cast("long")
    val withR = dec.where(col("resid").isNotNull).withColumn("__r6", r6)
    val stats = withR.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__r6").cast("decimal(38,0)")).as("__s"),
        sum(col("__r6").cast("decimal(38,0)") * col("__r6")).as("__ssq"),
        count(lit(1)).as("__n"))
      .withColumn("__mean", col("__s").cast("double") /
        col("__n").cast("double") / lit(1e6))
      .withColumn("__sigma",
        sqrt(greatest(
          col("__ssq").cast("double") / col("__n").cast("double") -
            (col("__s").cast("double") / col("__n").cast("double")) *
            (col("__s").cast("double") / col("__n").cast("double")),
          lit(0.0))) / lit(1e6))
      .select(keyCols.map(col) ++ Seq(col("__mean"), col("__sigma")): _*)
    withR.join(stats, keyCols)
      .where(col("__sigma") > 0.0 &&
        abs((col("__r6").cast("double") / lit(1e6) - col("__mean")) /
          col("__sigma")) > zThresh)
      .select(keyCols.map(col) ++ Seq(col("day"), col("value"),
        col("resid"),
        round((col("__r6").cast("double") / lit(1e6) - col("__mean")) /
          col("__sigma"), 6).as("z")): _*)
  }

  /** SAX — Symbolic Aggregate approXimation (Lin, Keogh et al., DMKD
    * 2007): z-normalize the series, Piecewise-Aggregate-Approximate it
    * into fixed-width buckets, then map each PAA mean to a letter via
    * equiprobable standard-normal breakpoints. The symbolic string is
    * the series representation motif/novelty mining and cross-series
    * indexing run on — the text-side counterpart of [[lttb]]/[[m4]]
    * downsampling.
    *
    * Alphabet fixed at 4 (breakpoints −0.6745 / 0 / +0.6745 — the
    * standard-normal quartiles). PAA means are exact µ-unit floors of
    * the bucketed-grid means; per-key mean/σ come from exact decimal
    * sums surfaced into one fixed IEEE formula, so z (and therefore
    * the symbol) is bit-deterministic across engines. σ = 0 (constant
    * series) pins z to 0 → symbol 'c'.
    *
    * Scale: the (key, bucket) grid agg touches events once; the PAA
    * agg and per-key stats agg re-key the grid frame, and the stats
    * join carries #keys rows. Output: keyCols, w (PAA bucket), n_days,
    * paa, z, symbol.
    */
  def sax(df: DataFrame, tsCol: String, valCol: String,
          keyCols: Seq[String], bucketUs: Long, originUs: Long,
          paaLen: Int = 7): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.fldiv
    val grid = df
      .select((keyCols :+ tsCol :+ valCol).map(col): _*)
      .groupBy(keyCols.map(col) :+
        fldiv(col(tsCol) - lit(originUs), bucketUs).as("__d"): _*)
      .agg(sum(floor(col(valCol) * lit(1e6)).cast("long")).as("__s6"),
        count(lit(1)).as("__c"))
      .withColumn("__v", fldivC(col("__s6"), col("__c")))
    // per-key stats from exact integer sums: one fixed IEEE formula
    val stats = grid.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__v").cast("decimal(38,0)")).as("__s"),
        sum((col("__v").cast("decimal(38,0)") * col("__v"))).as("__ssq"),
        count(lit(1)).as("__n"))
      .withColumn("__mean", col("__s").cast("double") /
        col("__n").cast("double") / lit(1e6))
      .withColumn("__var",
        col("__ssq").cast("double") / col("__n").cast("double") -
          (col("__s").cast("double") / col("__n").cast("double")) *
          (col("__s").cast("double") / col("__n").cast("double")))
      .withColumn("__sigma",
        sqrt(greatest(col("__var"), lit(0.0))) / lit(1e6))
      .select(keyCols.map(col) ++ Seq(col("__mean"), col("__sigma")): _*)
    val paa = grid
      .groupBy(keyCols.map(col) :+
        fldiv(col("__d"), paaLen.toLong).as("w"): _*)
      .agg(sum(col("__v")).as("__ps"), count(lit(1)).as("n_days"))
      .withColumn("__paa",
        fldivC(col("__ps"), col("n_days")).cast("double") / lit(1e6))
    val z = when(col("__sigma") === 0.0, lit(0.0))
      .otherwise((col("__paa") - col("__mean")) / col("__sigma"))
    paa.join(stats, keyCols)
      .withColumn("__z", z)
      .withColumn("symbol",
        when(col("__z") < -0.6745, "a").when(col("__z") < 0.0, "b")
          .when(col("__z") < 0.6745, "c").otherwise("d"))
      .select(keyCols.map(col) ++ Seq(col("w"), col("n_days"),
        col("__paa").as("paa"), round(col("__z"), 6).as("z"),
        col("symbol")): _*)
  }

  /** Benford first-significant-digit screen per group — the
    * data-quality / integrity test a feed monitor runs: naturally
    * occurring multi-scale positive values follow P(d) = log10(1+1/d);
    * fabricated, truncated, or unit-mangled feeds don't. Emits per
    * (group, digit 1-9) the observed vs expected count plus the
    * group's chi² against Benford with the α=0.05 / 8-dof decision.
    *
    * Exactness: the first significant digit is the leading character
    * of the DECIMAL STRING of the exact µ-floored integer — both
    * engines format integers identically, unlike log10, whose
    * rounding at power-of-ten boundaries engines need not agree on.
    * Chi² terms are one fixed IEEE formula over exact counts and 6dp
    * probability literals (they sum to exactly 1), µ-snapped to
    * BIGINT before the order-free per-group sum (the ts_drift_chi2
    * convention); the verdict compares µ-integers against the
    * critical value 15.507313.
    *
    * Scale: one (group, digit) partial-agg'd shuffle; everything
    * after runs on ≤ 9 rows per group. Values below 1µ are excluded
    * (they have no leading digit at µ precision).
    */
  def benford(df: DataFrame, valCol: String,
              grpCols: Seq[String]): DataFrame = {
    val probs = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val v6 = floor(col(valCol) * lit(1e6)).cast("long")
    // the only corpus-scale stage; checkpointed so the grid/total/chi
    // joins below (≤ 9 rows per group) don't re-run the scan per
    // reference (the minhash-estimate convention)
    val digits = df.where(col(valCol) >= lit(1e-6))
      .withColumn("__d", substring(v6.cast("string"), 1, 1).cast("int"))
      .groupBy(grpCols.map(col) :+ col("__d"): _*)
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(false)
    val totals = digits.groupBy(grpCols.map(col): _*)
      .agg(sum(col("obs")).as("n"))
    val grid = totals
      .select(grpCols.map(col) ++ Seq(col("n"),
        explode(sequence(lit(1), lit(9))).as("__d")): _*)
      .join(digits, grpCols :+ "__d", "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .withColumn("__p", element_at(
        array(probs.map(lit): _*), col("__d")))
    val term = (col("obs") - col("n") * col("__p")) *
      (col("obs") - col("n") * col("__p")) / (col("n") * col("__p"))
    val terms = grid.withColumn("__t6", floor(term * lit(1e6)).cast("long"))
    val chi = terms.groupBy(grpCols.map(col): _*)
      .agg(sum(col("__t6")).as("__s6"))
    terms.join(chi, grpCols)
      .select(grpCols.map(col) ++ Seq(
        col("__d").as("digit"), col("obs"),
        round(col("n") * col("__p"), 6).as("expected"),
        (col("__s6").cast("double") / lit(1e6)).as("chi2"),
        (col("__s6") <= lit(15507313L)).as("benford_ok")): _*)
  }

  /** Threshold run-length analysis per series — gaps-and-islands over
    * the VALUE dimension: how many maximal runs of consecutive events
    * sit above the threshold, and where the longest one lives. The
    * sustained-load / sustained-breach shape that ts_crossings (single
    * flips) and ts_gaps (time holes) don't express.
    *
    * ONE key-hash shuffle: the lag/running-sum island windows and the
    * (key, run) agg all share hash(key); run stats are exact integer
    * counts and µs extents. `tieCols` totalizes the per-key order so
    * island numbering is engine-deterministic under equal timestamps.
    */
  /** The per-run rows behind [[runsAbove]] (and StreamRuns' batch
    * twin): one row per maximal above-threshold island — keyCols,
    * start_ts, end_ts, len, dur.
    */
  def runsList(df: DataFrame, tsCol: String, valCol: String,
               keyCols: Seq[String], threshold: Double,
               tieCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: col(valCol) +: tieCols.map(col))
    val wOrd = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val base = df
      .withColumn("__f", col(valCol) > lit(threshold))
      .withColumn("__chg",
        when(lag(col("__f"), 1).over(wOrd).isNull ||
          lag(col("__f"), 1).over(wOrd) =!= col("__f"), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    base.where(col("__f"))
      .groupBy(keyCols.map(col) :+ col("__grp"): _*)
      .agg(count(lit(1)).as("len"), min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"))
      .select(keyCols.map(col) ++ Seq(col("start_ts"), col("end_ts"),
        col("len"), (col("end_ts") - col("start_ts")).as("dur")): _*)
  }

  def runsAbove(df: DataFrame, tsCol: String, valCol: String,
                keyCols: Seq[String], threshold: Double,
                tieCols: Seq[String] = Nil): DataFrame = {
    val runs = runsList(df, tsCol, valCol, keyCols, threshold, tieCols)
    runs.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_runs"),
        max(col("len")).as("max_len"),
        max(struct(col("len").as("l"), (col("start_ts") * -1).as("ns"),
          col("end_ts").as("e"))).as("__best"))
      .select(keyCols.map(col) ++ Seq(col("n_runs"), col("max_len"),
        (col("__best").getField("ns") * -1).as("longest_start"),
        (col("__best").getField("e") + col("__best").getField("ns"))
          .as("longest_dur")): _*)
  }

  /** Seasonal / trend STRENGTH per key (Hyndman & Athanasopoulos,
    * FPP3 §4.4): F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) over the shared classical
    * decomposition — the two scalars that RANK thousands of series by
    * how seasonal / how trended they are (the triage step before
    * anyone looks at a single decomposition plot).
    *
    * Exactness: S+R = value−trend and T+R = value−seasonal are exact
    * µ-integer differences (the decomposition identity holds on the
    * µ-ints), variances come from exact decimal sums through one
    * fixed IEEE formula (the stlOutliers convention; the µ² scale
    * cancels in the ratio), zero-variance denominators yield null.
    * One #buckets-per-key agg over the checkpointed decomposition.
    */
  def stlStrength(df: DataFrame, tsCol: String, valCol: String,
                  keyCols: Seq[String], bucketUs: Long, originUs: Long,
                  period: Int = 7): DataFrame = {
    val dec = stlDecompose(df, tsCol, valCol, keyCols, bucketUs, originUs,
      period).localCheckpoint(false)
    val rows = dec.where(col("resid").isNotNull)
      .withColumn("__v6", round(col("value") * lit(1e6)).cast("long"))
      .withColumn("__t6", round(col("trend") * lit(1e6)).cast("long"))
      .withColumn("__s6", round(col("seasonal") * lit(1e6)).cast("long"))
      .withColumn("__r6", col("__v6") - col("__t6") - col("__s6"))
      .withColumn("__sr6", col("__v6") - col("__t6"))
      .withColumn("__tr6", col("__v6") - col("__s6"))
    def sums(c: String, s: String, q: String) = Seq(
      sum(col(c).cast("decimal(38,0)")).as(s),
      sum(col(c).cast("decimal(38,0)") * col(c)).as(q))
    val aggCols = Seq(count(lit(1)).as("n_days")) ++
      sums("__r6", "sr", "qr") ++ sums("__sr6", "ss", "qs") ++
      sums("__tr6", "st", "qt")
    val stats = rows.groupBy(keyCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    def variance(q: Column, s: Column): Column =
      q.cast("double") / col("n_days").cast("double") -
        (s.cast("double") / col("n_days").cast("double")) *
        (s.cast("double") / col("n_days").cast("double"))
    val vr = variance(col("qr"), col("sr"))
    val vs = variance(col("qs"), col("ss"))
    val vt = variance(col("qt"), col("st"))
    stats.select(keyCols.map(col) ++ Seq(col("n_days"),
      when(vs > 0.0,
        round(greatest(lit(0.0), lit(1.0) - vr / vs), 6))
        .as("strength_seasonal"),
      when(vt > 0.0,
        round(greatest(lit(0.0), lit(1.0) - vr / vt), 6))
        .as("strength_trend")): _*)
  }

  /** Hampel filter: rolling ROBUST outlier screen + repair over a
    * centered ±halfW row window per series — the despike pass run
    * before any mean-based smoother (a z-score screen moves its own
    * mean/σ toward the spike it is judging; median/MAD have a 50%
    * breakdown point). A point is an outlier when
    * |x − med| > nSigma · 1.4826 · MAD, and outliers are REPAIRED to
    * the window median.
    *
    * Exactness: values are µ-floored BIGINTs, med and MAD are
    * LOWER-median order statistics of the sorted window (no
    * interpolation), and the decision cross-multiplies integers
    * (|v6−med6|·10⁴ > nSigma·14826·mad6 — the 1.4826 consistency
    * constant at 4dp) — no float comparison anywhere, so the flag set
    * is engine-exact. ONE series-key window shuffle; the per-row sort
    * is over 2·halfW+1 elements.
    */
  def hampel(df: DataFrame, tsCol: String, valCol: String,
             keyCols: Seq[String], halfW: Int = 3,
             nSigma: Int = 3, centered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.ldiv
    // centered = the batch screen; trailing = the causal geometry a
    // live stream can honor (StreamHampel's spec-pinned twin)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valCol))
      .rowsBetween(if (centered) -halfW else -(2 * halfW), if (centered) halfW else 0)
    val base = df
      .withColumn("__v6", floor(col(valCol) * lit(1e6)).cast("long"))
      .withColumn("__lst", sort_array(collect_list(col("__v6")).over(w)))
    val idx = ldiv((size(col("__lst")) + 1).cast("long"), lit(2L)).cast("int")
    val withMed = base.withColumn("__med", element_at(col("__lst"), idx))
    val withMad = withMed.withColumn("__mad",
      element_at(sort_array(transform(col("__lst"),
        y => abs(y - col("__med")))), idx))
    val flag = abs(col("__v6") - col("__med")) * lit(10000L) >
      lit(nSigma.toLong * 14826L) * col("__mad")
    withMad
      .withColumn("is_outlier", flag)
      .select(keyCols.map(col) ++ Seq(col(tsCol), col(valCol),
        (col("__med").cast("double") / lit(1e6)).as("med"),
        (col("__mad").cast("double") / lit(1e6)).as("mad"),
        col("is_outlier"),
        when(col("is_outlier"), col("__med").cast("double") / lit(1e6))
          .otherwise(col(valCol)).as("repaired")): _*)
  }

  /** Banded Dynamic Time Warping distance from every series to the
    * corpus TEMPLATE (the all-series daily mean curve): "whose SHAPE
    * deviates from the global pattern, allowing phase shifts up to
    * `band` buckets". Euclidean distance charges a series that runs
    * the same shape a day late for every sample; DTW aligns the two
    * sequences monotonically inside a Sakoe–Chiba band of width
    * max(band, |n−m|) (the |n−m| floor keeps the (n,m) corner
    * reachable) and charges |a_i − b_j| per aligned pair.
    *
    * Exactness: grid values are exact µ-floor means (BIGINT), the DP
    * runs entirely on BIGINTs with INF = 1e15 marking out-of-band
    * cells (far above any real path: ≤ (n+m)·max|diff|, and low
    * enough that INF + n·cost cannot overflow), so the distance is
    * integer-exact across engines — the DuckDB oracle replays the
    * identical DP via a recursive CTE.
    *
    * Scale: the O(n·m) DP is a nested scan-side fold over per-key
    * arrays bounded by the CALENDAR (#buckets), never over events —
    * the theilSen posture. Events pay ONE (key, bucket) partial-agg'd
    * shuffle + the key re-key (clustering-satisfied by hash(key));
    * the template is a #buckets-row broadcast.
    *
    * Span gate (`spanCapBuckets`): the DP cost per key is
    * O(n·max(band,|n−m|)) — for a sparse key against a dense template
    * that degenerates to O(span²) in the calendar span, so a
    * multi-year feed would blow up quadratically. When the observed
    * span exceeds the cap, the grid coarsens by the smallest integer
    * factor that brings it back under: scale = floor((maxD−minD)/cap)
    * + 1, bucket = bucketUs·scale. That bounds every DP at O(cap²)
    * regardless of span (the mm_phash_eval count-gate convention: the
    * gate is derived from the DATA on both engines, so the DuckDB
    * oracle replays the identical decision at any input size; at or
    * under the cap the output is bit-identical to the ungated op).
    * The span probe is one extra min/max partial-agg scan — no
    * shuffle, read back as one scalar subquery.
    */
  def dtwToTemplate(df: DataFrame, tsCol: String, valCol: String,
                    keyCols: Seq[String], bucketUs: Long, originUs: Long,
                    band: Int = 7, spanCapBuckets: Int = 366): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.fldiv
    val inf = lit(1000000000000000L)
    val dRaw = fldiv(col(tsCol) - lit(originUs), bucketUs)
    // greatest(1, …): max/min of an empty frame are NULL; Spark's
    // greatest skips NULLs, so the degenerate scale is 1, not NULL.
    // The 1-row probe feeds BOTH the grid and the template branch: its
    // second copy is a ReusedSubquery, so the min/max agg runs once
    val span = df.agg(greatest(lit(1L),
      fldiv(max(dRaw) - min(dRaw), spanCapBuckets.toLong) + lit(1L))
      .as("__scale"))
    val dfS = Par.withScalars(df, span)
    def d = fldivC(col(tsCol) - lit(originUs),
      lit(bucketUs) * col("__scale")).as("__d")
    val grid = dfS
      .groupBy(keyCols.map(col) :+ d: _*)
      .agg(sum(floor(col(valCol) * lit(1e6)).cast("long")).as("__s6"),
        count(lit(1)).as("__c"))
      .withColumn("__v", fldivC(col("__s6"), col("__c")))
    val karr = grid.groupBy(keyCols.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("__d"), col("__v")))),
        s => s.getField("__v")).as("b"))
    val tmpl = dfS
      .groupBy(d)
      .agg(sum(floor(col(valCol) * lit(1e6)).cast("long")).as("__s6"),
        count(lit(1)).as("__c"))
      .withColumn("__v", fldivC(col("__s6"), col("__c")))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("__d"), col("__v")))),
        s => s.getField("__v")).as("a"))
    // r16 (guide §2): the per-key array frame leaves its groupBy on
    // 1–2 AQE byte-coalesced partitions, so the banded DP below —
    // ~5.5k interpreted cells PER KEY — ran near-serial. Round-robin
    // spread before the row-independent DP projection: the exchange
    // carries one calendar-bounded array per key (~KB) against 10⁴+
    // ops of downstream compute per row, justified at any scale.
    val joined = Par.spread(Par.withScalars(karr, tmpl))
      .withColumn("n", size(col("a")))
      .withColumn("m", size(col("b")))
      .withColumn("w", greatest(lit(band), abs(col("n") - col("m"))))
    // BANDED dp storage (r14): row i keeps only its in-band cells
    // j ∈ [lo(i), hi(i)] = [max(0,i−w), min(m,i+w)], stored 1-indexed
    // as r[t] = dp[i][lo(i)+t−1]. The full-width formulation paid
    // O(m) per cell just to CARRY the row (concat copies the growing
    // array) plus O(n·m) cells of which all but O(n·w) were INF — at
    // the 366-bucket span cap that is ~134k cells/key vs ~5.5k here,
    // and per-cell concat cost drops from O(m) to O(w). Values are
    // bit-identical (out-of-band reads resolve to INF exactly as the
    // stored INF cells did), so the DuckDB oracle's full-grid
    // recursive-CTE replay is unchanged.
    val w = col("w")
    // row 0: dp[0][0] = 0, dp[0][1..min(m,w)] = INF. The guard keeps
    // band = 0 with n == m legal (ADVICE r14): sequence(1, 0, 1) throws
    // 'Illegal sequence boundaries', and the diagonal-only DP's first
    // row is just [0] — semantics identical to the full-grid
    // formulation, which handled band = 0 correctly.
    val initRow = concat(array(lit(0L)),
      when(least(col("m"), w) >= 1,
        transform(sequence(lit(1), least(col("m"), w), lit(1)), _ => inf))
        .otherwise(array().cast("array<bigint>")))
    val dp = aggregate(
      sequence(lit(1), col("n")), initRow,
      (row, i) => {
        val loP = greatest(lit(0), i - lit(1) - w) // prev row's lo
        val hiP = least(col("m"), i - lit(1) + w)  // prev row's hi
        val lo = greatest(lit(0), i - w)
        // j = 0 is only in-band while i <= w and is always INF (i >= 1
        // can't align before the first template element) — seed the
        // fold with it so the left-neighbor lookup stays uniform
        val seed = when(lo === 0, array(inf))
          .otherwise(array().cast("array<bigint>"))
        aggregate(
          sequence(greatest(lit(1), lo), least(col("m"), i + w), lit(1)),
          seed,
          (acc, j) => {
            val up = when(j < loP || j > hiP, inf)
              .otherwise(element_at(row, j - loP + 1))
            val diag = when(j - 1 < loP || j - 1 > hiP, inf)
              .otherwise(element_at(row, j - loP))
            val left = when(size(acc) === 0, inf)
              .otherwise(element_at(acc, -1))
            concat(acc, array(least(up, diag, left)
              + abs(element_at(col("a"), i) - element_at(col("b"), j))))
          })
      })
    joined
      // dp[n][m] sits at index m − lo(n) + 1 of the banded final row
      .withColumn("__dtw6",
        element_at(dp, col("m") - greatest(lit(0), col("n") - w) + 1))
      .select(keyCols.map(col) ++ Seq(
        col("n").as("n_template"), col("m").as("n_series"),
        col("__dtw6").as("dtw6"),
        round(col("__dtw6").cast("double") / lit(1e6), 6).as("dtw"),
        (fldivC(col("__dtw6"), (col("n") + col("m")).cast("long"))
          .cast("double") / lit(1e6)).as("dtw_step")): _*)
  }
}
