package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SLO error-budget burn — the live twin of q_slo_burn
  * (the Google-SRE burn-rate alert): per (key, event-time window)
  * the error fraction vs the objective, the burn rate, and the
  * breach verdict, emitted when the watermark closes the window.
  *
  * The breach verdict is an integer CROSS-MULTIPLICATION
  * (n_err · 10⁶ > n · sloPpm) — no float fence, so a backfilled
  * batch audit and the live alert can never disagree on a verdict.
  * State per open (key, window) is one count pair — partial-agg
  * state, independent of event volume (the StreamHist argument).
  */
object StreamSlo {

  /** `stream` carries `keyCol`, `typeCol` and an epoch-µs `tsCol`;
    * `sloPpm` is the objective in parts-per-million (100000 = 10%).
    */
  def burn(stream: DataFrame, tsCol: String, typeCol: String,
           keyCol: String, win: String, watermark: String,
           sloPpm: Long = 100000L, errType: String = "error"): DataFrame =
    StreamRollup.windowBounds(StreamRollup.eventTime(stream, tsCol, watermark)
      .groupBy(window(col("__event_time"), StreamRollup.interval(win)).as("w"),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        count(when(col(typeCol) === errType, 1)).as("n_errors")))
      .select(col("ts_begin"), col("ts_end"), col(keyCol),
        col("n_events"), col("n_errors"),
        round(col("n_errors").cast("double") / col("n_events"), 6)
          .as("err_frac"),
        round(col("n_errors").cast("double") / col("n_events")
          / (lit(sloPpm).cast("double") / lit(1e6)), 6).as("burn_rate"),
        (col("n_errors") * lit(1000000L) > col("n_events") * lit(sloPpm))
          .as("breach"))
}
