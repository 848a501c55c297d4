package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming windowed quantiles — the unbounded twin of the
  * batch percentile family (`ts_quantile` / the GK leg of
  * `ts_agg_approx`; reference: pypond's percentile aggregation,
  * pypond/functions.py Functions.percentile, driven unbounded through
  * Pipeline observers, bases.py:24-156).
  *
  * Exact per-window percentiles on an unbounded stream are impossible
  * with bounded memory (rank statistics need every value until the
  * window closes); the GK sketch behind Spark's `percentile_approx` is
  * the standard answer: per open (key, window) the state is ONE sketch
  * of O(accuracy) entries — independent of the window's row count —
  * and the sketch is mergeable, so map-side partials combine exactly
  * like any other partial aggregate. The watermark closes windows and
  * evicts their sketches (pypond's emit_on window-close semantics).
  *
  * Accuracy contract: rank error ≤ rows/accuracy per window. When a
  * window holds ≤ `accuracy` rows the sketch never compresses and the
  * answer is the EXACT order statistic regardless of batch/merge order
  * — the spec pins streaming == batch on that regime; beyond it both
  * sides carry the same ε bound.
  */
object StreamQuantile {

  /** Per fixed event-time window and key: `percentile_approx` of
    * `valueCol` at each of `percentages`. Emits once the watermark
    * passes the window end (append mode), like StreamRollup.
    */
  def windowed(stream: DataFrame, tsCol: String, keyCols: Seq[String],
               win: String, watermark: String, valueCol: String,
               percentages: Seq[Double],
               accuracy: Int = 10000): DataFrame = {
    val gb = keyCols.map(col) :+
      window(col("__event_time"), StreamRollup.interval(win)).as("w")
    StreamRollup.windowBounds(StreamRollup.eventTime(stream, tsCol, watermark)
      .groupBy(gb: _*)
      .agg(percentile_approx(col(valueCol),
        array(percentages.map(lit): _*), lit(accuracy)).as("quantiles")))
      .drop("w")
  }
}
