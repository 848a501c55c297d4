package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming per-series completeness scorecard — the live twin of
  * ts_coverage (the is-the-feed-whole alarm): per (key, event-time
  * window) the observed span, the point count expected at the feed's
  * cadence over that span, the coverage ratio, and a `whole` verdict,
  * emitted when the watermark closes the window.
  *
  * Same formula as the batch operator, applied per window instead of
  * per history: expected = ⌊(last − first) / cadence⌋ + 1 over the
  * span actually OBSERVED inside the window (a feed that starts late
  * or dies early is judged on what it sent, not on the window frame —
  * exactly the batch scorecard's contract).
  *
  * The `whole` verdict is an integer CROSS-MULTIPLICATION
  * (n · 10⁶ ≥ expected · minPpm) — no float fence, so a backfilled
  * batch audit and the live alarm can never disagree (the StreamSlo
  * convention). State per open (key, window) is (min, max, count) —
  * partial-agg state, independent of event volume.
  */
object StreamCoverage {

  /** `stream` carries `keyCol` and an epoch-µs `tsCol`; `cadenceUs`
    * is the feed's declared cadence; `minPpm` the completeness
    * objective in parts-per-million (900000 = 90%).
    */
  def scorecard(stream: DataFrame, tsCol: String, keyCol: String,
                win: String, watermark: String, cadenceUs: Long,
                minPpm: Long = 900000L): DataFrame =
    StreamRollup.windowBounds(StreamRollup.eventTime(stream, tsCol, watermark)
      .groupBy(window(col("__event_time"), StreamRollup.interval(win)).as("w"),
        col(keyCol))
      .agg(min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"),
        count(lit(1)).as("n_events"))
      .withColumn("expected",
        org.apache.spark.sql.graft.Bridge.fldiv(
          col("last_ts") - col("first_ts"), cadenceUs) + lit(1L)))
      .select(col("ts_begin"), col("ts_end"),
        col(keyCol), col("first_ts"), col("last_ts"), col("n_events"),
        col("expected"),
        round(col("n_events").cast("double") / col("expected"), 6)
          .as("coverage"),
        (col("n_events") * lit(1000000L) >= col("expected") * lit(minPpm))
          .as("whole"))
}
