package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Stateful streaming sessionization via [[SeriesFold]]
  * (`flatMapGroupsWithState`) — the custom-state streaming path
  * (SURVEY.md §2.10): pypond's unbounded Pipeline kept
  * per-processor driver state; here the state lives in Spark's
  * fault-tolerant state store, partitioned by series key.
  *
  * A session CLOSES (and is emitted, append-mode) when a later event
  * arrives more than `gapUs` after it; the open session per key stays
  * in state until then.
  */
object StreamSessionize {

  final case class SessState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, session_start: Long,
                           session_end: Long, n_events: Long, sum_value: Double)

  def apply(spark: SparkSession, events: Dataset[Ev], gapUs: Long): Dataset[Session] = {
    import spark.implicits._

    SeriesFold(events) { (user, open: Option[SessState], e) =>
      open match {
        case Some(s) if e.ts - s.last <= gapUs =>
          (Some(s.copy(last = e.ts, n = s.n + 1, sum = s.sum + e.value)), None)
        case _ =>
          (Some(SessState(e.ts, e.ts, 1L, e.value)),
            open.map(s => Session(user, s.start, s.last, s.n, s.sum)))
      }
    }
  }
}
