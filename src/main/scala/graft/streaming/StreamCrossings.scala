package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming threshold-crossing detection — the unbounded form of the
  * `ts_crossings` batch shape (per-series lag + direction test), the
  * canonical alerting pipeline: watch a metric stream, emit an event
  * the moment a series crosses a threshold in either direction.
  *
  * State per series key is ONE previous value — O(1) and bounded
  * regardless of stream length, so the state store stays flat at any
  * key cardinality. Pairs that straddle micro-batch boundaries are
  * joined through the state store exactly like StreamRate.
  */
object StreamCrossings {

  final case class Prev(value: Double)
  final case class Crossing(user_id: Long, ts: Long, prev_v: Double,
                            value: Double, direction: String)

  def apply(spark: SparkSession, events: Dataset[Ev],
            threshold: Double): Dataset[Crossing] = {
    import spark.implicits._

    SeriesFold(events) { (user, prev: Option[Prev], e) =>
      val out = prev.collect {
        case p if p.value < threshold && e.value >= threshold =>
          Crossing(user, e.ts, p.value, e.value, "up")
        case p if p.value >= threshold && e.value < threshold =>
          Crossing(user, e.ts, p.value, e.value, "down")
      }
      (Some(Prev(e.value)), out)
    }
  }
}
