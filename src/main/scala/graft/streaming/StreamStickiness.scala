package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Live DAU board — the streaming twin of q_stickiness's input side:
  * a CHAINED-STATEFUL plan (dedup → windowed agg, both watermarked)
  * that emits each closed day's distinct-active-user count exactly
  * once.
  *
  *  - the first stateful op is `dropDuplicatesWithinWatermark` on
  *    (user_id, day): state holds one row per ACTIVE (user, day)
  *    inside the watermark horizon and evicts with it — never one row
  *    per event, never unbounded user history. EXACT per-day dedup
  *    needs the watermark to cover a full day plus lateness (the
  *    "25 hours" default): a (user, day) state row expires at
  *    first-event-time + delay, and with delay ≥ 24h that expiry is
  *    always past day end, so every same-day event the watermark gate
  *    accepts still finds the row and dedups. A SHORTER watermark
  *    degrades the count to watermark-separated activity sessions
  *    (an upper bound on DAU: a user active at 00:00 and again past
  *    the delay the same day counts twice) — spec-pinned;
  *  - the second is a 1-day tumbling-window count over the surviving
  *    rows — emitted in append mode when the watermark closes the
  *    day, so a day's DAU is final the moment it publishes.
  *
  * [[stickiness]] folds the emitted days into q_stickiness's
  * DAU / trailing-7-day-AU shape. The trailing union is a UNION of
  * per-day DISTINCT sets, so the fold is an upper bound built from
  * day-grain counts; the batch operator computes the exact trailing
  * distinct. The DAU legs are spec-pinned equal to batch; the
  * stickiness fold is the dashboard companion, documented as
  * day-additive.
  */
object StreamStickiness {

  /** `events` carries `user_id` and an epoch-µs `ts`. Emits
    * (day_begin epoch-µs, dau) per closed day. Keep `watermark` at
    * ≥ 24h + lateness for exact DAU (see class doc); shorter values
    * trade exactness for earlier emission.
    *
    * EMISSION-LATENCY COST of the 25 h default (changed from "1 hour"
    * in r12): append-mode windows publish only when the watermark
    * passes day end + 25 h of EVENT TIME, so a day's DAU row lands
    * roughly a day later than under the old default. Consumers that
    * relied on the next-hour publish cadence must either pass the old
    * short watermark explicitly (accepting the documented
    * session-count upper bound) or read the pre-close running count
    * from update mode; with the default, outputs will appear to
    * "stall" until enough later event time arrives. Exactness gain
    * and this latency cost are the two sides of the same dial.
    */
  def daily(events: DataFrame, watermark: String = "25 hours"): DataFrame =
    StreamRollup.eventTime(events, "ts", watermark)
      .withColumn("__day", date_trunc("DAY", col("__event_time")))
      .dropDuplicatesWithinWatermark("user_id", "__day")
      .groupBy(window(col("__event_time"), "1 day").as("__w"))
      .agg(count(lit(1)).as("dau"))
      .select(unix_micros(col("__w.start")).as("day_begin"), col("dau"))

  /** Fold closed-day DAU rows into the engagement shape: per day, the
    * trailing-7-day SUM of daily distinct counts (day-additive upper
    * bound of the exact trailing distinct — see class doc) and the
    * dau/trailing ratio. Tiny calendar-sized frame.
    */
  def stickiness(daily: DataFrame): DataFrame = {
    val UsDay = 86400000000L
    // unpartitioned window = single partition, but the input is the
    // closed-day DAU frame — calendar-sized (one row per day), so the
    // "No Partition Defined" warning is not a scale hazard (audited
    // r12)
    val w = Window.orderBy(col("day_begin"))
      .rangeBetween(-6L * UsDay, 0L)
    daily
      .withColumn("trailing7", sum(col("dau")).over(w))
      .select(col("day_begin"), col("dau"), col("trailing7"),
        round(col("dau").cast("double") / col("trailing7").cast("double"), 6)
          .as("ratio"))
  }
}
