package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming week-over-week churn verdicts — the live twin of
  * q_churn (the week-close loss alert): a user churns FROM week w
  * when week w+1 ends with no activity from them. Two triggers decide
  * a week, exactly one of which fires per (user, week):
  *
  *  - the user's OWN next event: an event in week w' > w decides every
  *    pending week immediately (churned iff w' > w+1) — the early
  *    verdict no window close could give;
  *  - the watermark passing the END of week w+1 with no event: the
  *    event-time TIMEOUT emits churned = true — the silence verdict
  *    batch can only infer at corpus end.
  *
  * State per user is ONE long (the last active week) + its timeout —
  * O(|users|) total, independent of event volume. Verdicts are
  * identical to the batch operator's per-user rows under ordered
  * replay (spec-pinned); a week whose successor the watermark has not
  * yet closed is the right-censored week batch also refuses to judge.
  */
object StreamChurn {

  final case class Ev(user_id: Long, ts: Long,
                      __event_time: java.sql.Timestamp)
  final case class LastWeek(w: Long)
  final case class Verdict(user_id: Long, week_num: Long, churned: Boolean)

  /** `events` carries `user_id` and an epoch-µs `ts`; weeks are
    * ⌊(ts − epochUs) / weekUs⌋ — the batch operator's calendar.
    */
  def apply(spark: SparkSession, events: DataFrame, epochUs: Long,
            weekUs: Long, watermark: String = "10 minutes"): Dataset[Verdict] = {
    import spark.implicits._

    def weekOf(ts: Long): Long = Math.floorDiv(ts - epochUs, weekUs)
    // timeout for last-active week w = the end of week w+1 (epoch-ms)
    def timeoutMs(w: Long): Long = (epochUs + (w + 2) * weekUs) / 1000L

    def step(user: Long, batch: Iterator[Ev],
             state: GroupState[LastWeek]): Iterator[Verdict] = {
      if (state.hasTimedOut) {
        val w = state.get.w
        state.remove()
        Iterator.single(Verdict(user, w, churned = true))
      } else {
        val weeks = batch.map(e => weekOf(e.ts)).toVector.distinct.sorted
        val out = Vector.newBuilder[Verdict]
        var last = state.getOption.map(_.w)
        weeks.foreach { w =>
          last match {
            case Some(lw) if w > lw =>
              out += Verdict(user, lw, churned = w > lw + 1)
              last = Some(w)
            case Some(_) => // late or same-week event: already judged
            case None => last = Some(w)
          }
        }
        last.foreach { lw =>
          state.update(LastWeek(lw))
          // a straggler batch can arrive with the watermark already
          // past this week's close — clamp above it (Spark rejects a
          // timeout at or below the watermark); the verdict then
          // fires on the next watermark advance
          state.setTimeoutTimestamp(
            math.max(timeoutMs(lw), state.getCurrentWatermarkMs + 1))
        }
        out.result().iterator
      }
    }

    StreamRollup.eventTime(events, "ts", watermark)
      .select(col("user_id"), col("ts"), col("__event_time"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** The q_churn weekly rollup over emitted verdicts (batch-side
    * audit helper): per week the active count, churn count and rate —
    * the batch operator's exact output shape.
    */
  def weeklyRollup(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("week_num"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("churned"), 1)).as("n_churned"))
      .withColumn("churn_rate",
        round(col("n_churned").cast("double") / col("n_active"), 6))
}
