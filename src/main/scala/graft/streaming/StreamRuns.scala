package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming sustained-breach runs — the unbounded form of
  * graft.operators.Trend.runsList: a maximal run of consecutive
  * above-threshold events per key is emitted the moment an event at
  * or below the threshold CLOSES it (the live "sustained load ended,
  * here is its extent" alert). State per key is the single open run
  * (start, last, len) — O(1) regardless of stream length or run
  * length; keys with no open run hold no state at all.
  *
  * Emitted runs are IDENTICAL to the batch operator's rows under
  * ordered replay — spec-pinned; a run still open at the end of the
  * data is the one row batch emits and the stream (correctly, it
  * cannot see the future) still holds.
  */
object StreamRuns {

  final case class Open(start: Long, last: Long, len: Long)
  final case class Run(user_id: Long, start_ts: Long, end_ts: Long,
                       len: Long, dur: Long)

  def apply(spark: SparkSession, events: Dataset[Ev],
            threshold: Double): Dataset[Run] = {
    import spark.implicits._

    SeriesFold(events) { (user, open: Option[Open], e) =>
      if (e.value > threshold)
        (Some(open.fold(Open(e.ts, e.ts, 1))(o => Open(o.start, e.ts, o.len + 1))),
          None)
      else (None, open.map(o => Run(user, o.start, o.last, o.len, o.last - o.start)))
    }
  }
}
