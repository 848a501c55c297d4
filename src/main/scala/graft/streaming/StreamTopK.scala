package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-window heavy hitters: the top-`k` series keys by
  * exact summed value inside each fixed event-time window, emitted
  * once the watermark closes the window — the continuous form of the
  * batch `q_topn_window` ranking (pypond has no built-in ranker; its
  * users fold one by hand over Pipeline.map, bases.py observer
  * chains).
  *
  * Spark won't run a rank window function on a streaming frame, so
  * the ranking is a `flatMapGroupsWithState` keyed by WINDOW START:
  * state is the window's per-key (count, micro-sum) map — the same
  * footprint the built-in windowed agg would hold — and an event-time
  * timeout at window end + watermark delay flushes the ranked top-k
  * exactly once. Values accumulate as integer micro-units
  * (round(v·1e6)), so sums are exact and identical to the batch
  * operator regardless of micro-batch arrival order.
  *
  * Scale shape: state is partitioned by window start across the
  * cluster's state store; per-window state is bounded by that
  * window's distinct-key count and is dropped at flush. Keys inside
  * one window land on one partition — at extreme key cardinality,
  * pre-aggregate per (window, key) upstream or shard the window key.
  */
object StreamTopK {

  final case class TopRow(window_start: Long, rank: Int, user_id: Long,
                          n_events: Long, sum_value: Double)

  /** `events` needs (user_id, ts epoch-µs long, value). */
  def apply(spark: SparkSession, events: DataFrame, winUs: Long, k: Int,
            watermark: String = "0 seconds"): Dataset[TopRow] = {
    import spark.implicits._

    def step(w: Long, batch: Iterator[(Long, Long, Long, java.sql.Timestamp)],
             state: GroupState[Map[Long, (Long, Long)]]): Iterator[TopRow] = {
      if (state.hasTimedOut) {
        val m = state.get
        state.remove()
        m.toSeq
          .sortBy { case (u, (_, s)) => (-s, u) }
          .take(k).zipWithIndex
          .map { case ((u, (n, s)), i) =>
            TopRow(w, i + 1, u, n, s.toDouble / 1e6)
          }.iterator
      } else if (state.getOption.isEmpty &&
          (w + winUs) / 1000L <= state.getCurrentWatermarkMs()) {
        // a window that already flushed (or could never flush whole):
        // rows past the watermark are dropped, not re-opened — the
        // emit_on='discards' late policy StreamRollup documents, which
        // keeps each window's top-k emitted exactly once
        Iterator.empty
      } else {
        val m = batch.foldLeft(state.getOption.getOrElse(Map.empty[Long, (Long, Long)])) {
          case (acc, (_, u, mv, _)) =>
            val (n, s) = acc.getOrElse(u, (0L, 0L))
            acc.updated(u, (n + 1, s + mv))
        }
        state.update(m)
        // ms event time: the window can close only once the watermark
        // passes its end
        state.setTimeoutTimestamp((w + winUs) / 1000L)
        Iterator.empty
      }
    }

    StreamRollup.eventTime(events, "ts", watermark)
      .select(
        (org.apache.spark.sql.graft.Bridge.fldiv(col("ts"), winUs)
          * winUs).as("w"),
        col("user_id"),
        round(col("value") * lit(1e6)).cast("long").as("mv"),
        // the watermark attribute must flow INTO the stateful op for
        // event-time timeouts to resolve; the step ignores it
        col("__event_time"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
  }
}
