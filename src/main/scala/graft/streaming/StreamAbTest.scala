package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Live A/B read-out — the streaming twin of q_ab_test (the Welch
  * z-score over purchase values, variant = user parity): per tumbling
  * event-time window, the per-variant counts / µ-snapped sums
  * accumulate in ONE windowed aggregation (six conditional partial
  * aggs — the watermark-bounded windowed-agg state every Stream*
  * rollup here uses, never per-event rows), and the window's Welch z
  * + significance verdict emit in append mode the moment the
  * watermark closes the window.
  *
  * The arithmetic IS the batch plan's — both consume
  * [[graft.functions.Welch]]'s column builders (integer micro-unit
  * sums, the DECIMAL(38,0) variance key, |z| > 1.96), so a closed
  * window's row equals q_ab_test run over that window's slice by
  * construction (spec-pinned). A window with a zero- or one-purchase
  * variant, or two constant-valued variants (zero pooled SE),
  * surfaces NULL z / NULL significant — the batch operator's
  * documented degenerate read-out, never an ANSI divide error.
  *
  * Scale shape: state is 6 numbers per open window — O(windows in
  * the watermark horizon), independent of event volume; the partial
  * aggs are map-side combinable so the shuffle carries per-partition
  * partials, not purchases.
  */
object StreamAbTest {

  /** `events` carries `user_id`, epoch-µs `ts`, `event_type`,
    * `value`. Emits (win_begin epoch-µs, n0, n1, mean0, mean1, z,
    * significant) per closed window.
    */
  def apply(events: DataFrame, windowLen: String = "1 day",
            watermark: String = "1 hour"): DataFrame = {
    def side(v: Int, c: Column) =
      sum(when(col("user_id") % 2 === v, c))
    val agg = StreamRollup.eventTime(
        events.where(col("event_type") === "purchase"), "ts", watermark)
      .groupBy(window(col("__event_time"), windowLen).as("__w"))
      .agg(
        side(0, lit(1L)).as("n0"), side(1, lit(1L)).as("n1"),
        side(0, round(col("value") * lit(1e6)).cast("long")).as("s1_0"),
        side(1, round(col("value") * lit(1e6)).cast("long")).as("s1_1"),
        side(0, round(col("value") * col("value") * lit(1e6)).cast("long"))
          .as("s2_0"),
        side(1, round(col("value") * col("value") * lit(1e6)).cast("long"))
          .as("s2_1"))
    import graft.functions.Welch
    val m0 = Welch.mean(col("n0"), col("s1_0"))
    val v0 = Welch.variance(col("n0"), col("s1_0"), col("s2_0"))
    val m1 = Welch.mean(col("n1"), col("s1_1"))
    val v1 = Welch.variance(col("n1"), col("s1_1"), col("s2_1"))
    val z = Welch.z(m0, v0, col("n0"), m1, v1, col("n1"))
    agg.select(unix_micros(col("__w.start")).as("win_begin"),
      col("n0"), col("n1"),
      round(m0, 6).as("mean0"), round(m1, 6).as("mean1"),
      round(z, 4).as("z"), (abs(z) > 1.96).as("significant"))
  }
}
