package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered-conversion funnel verdicts — the live twin of
  * q_funnel (view → click within `spanUs` → purchase within another
  * `spanUs`): per user a single final verdict row stating the stage
  * reached, emitted the moment it is DECIDED —
  *
  *  - stage 3 the instant the qualifying purchase arrives (the
  *    conversion alert);
  *  - stage 1/2 when the watermark passes the open stage's deadline
  *    (t1+span without a click, or t2+span without a purchase) — the
  *    abandoned-funnel alert batch can only infer at corpus end.
  *
  * State per user is the (t1, t2, t3) stage timestamps — three longs,
  * evicted on verdict; users who never viewed hold NO state (a
  * click-only stream cannot grow it). Verdicts are identical to the
  * batch operator's per-user (t1, t2, t3) rows under ordered replay:
  * the first view IS the global min-view, and each stage's strict
  * `>` / window `<=` bounds are replayed exactly (same-ts ties
  * resolve by event-type order, which matches the batch operator's
  * strict inequalities).
  */
object StreamFunnel {

  final case class Ev(user_id: Long, ts: Long, event_type: String,
                      __event_time: java.sql.Timestamp)
  final case class FState(t1: Long, t2: Long)
  final case class Verdict(user_id: Long, stage: Int, t1: Option[Long],
                           t2: Option[Long], t3: Option[Long])

  def apply(spark: SparkSession, events: DataFrame, spanUs: Long,
            watermark: String = "10 minutes"): Dataset[Verdict] = {
    import spark.implicits._

    def step(user: Long, batch: Iterator[Ev],
             state: GroupState[FState]): Iterator[Verdict] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        val v =
          if (s.t2 >= 0) Verdict(user, 2, Some(s.t1), Some(s.t2), None)
          else Verdict(user, 1, Some(s.t1), None, None)
        Iterator.single(v)
      } else {
        var s = state.getOption.getOrElse(FState(-1L, -1L))
        var done: Option[Verdict] = None
        // (ts, event_type) order: same-ts click sorts before view and
        // purchase before view, so a click at exactly t1 (or purchase
        // at exactly t2) is evaluated against the PRIOR stage state
        // and rejected by the strict > — the batch operator's bounds
        batch.toVector.sortBy(e => (e.ts, e.event_type)).foreach { e =>
          if (done.isEmpty) {
            if (s.t1 < 0) {
              if (e.event_type == "view") s = FState(e.ts, -1L)
            } else if (s.t2 < 0) {
              if (e.event_type == "click" && e.ts > s.t1 &&
                e.ts <= s.t1 + spanUs) s = FState(s.t1, e.ts)
            } else if (e.event_type == "purchase" && e.ts > s.t2 &&
              e.ts <= s.t2 + spanUs) {
              done = Some(Verdict(user, 3, Some(s.t1), Some(s.t2),
                Some(e.ts)))
            }
          }
        }
        done match {
          case Some(v) =>
            state.remove()
            Iterator.single(v)
          case None =>
            if (s.t1 >= 0) {
              state.update(s)
              val deadlineMs =
                ((if (s.t2 >= 0) s.t2 else s.t1) + spanUs) / 1000L + 1
              state.setTimeoutTimestamp(
                math.max(deadlineMs, state.getCurrentWatermarkMs + 1))
            }
            Iterator.empty
        }
      }
    }

    StreamRollup.eventTime(events, "ts", watermark)
      .select(col("user_id"), col("ts"), col("event_type"),
        col("__event_time"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** The q_funnel global rollup over emitted verdicts (batch-side
    * audit helper): stage counts + conversion — the batch operator's
    * exact output shape.
    */
  def rollup(verdicts: DataFrame): DataFrame =
    verdicts.agg(count(when(col("stage") >= 1, 1)).as("n_view"),
      count(when(col("stage") >= 2, 1)).as("n_click"),
      count(when(col("stage") === 3, 1)).as("n_buy"),
      round(count(when(col("stage") === 3, 1)).cast("double") /
        count(when(col("stage") >= 1, 1)), 6).as("conv"))
}
