package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming event-type transitions — the live twin of q_transitions
  * (the session Markov chain): each user's stream pairs every event
  * with its successor in (ts, event_id) order, and the (from, to)
  * edge is emitted THE MOMENT the successor arrives — no window close
  * to wait for.
  *
  * State per user is ONE (ts, event_id, event_type) triple — the last
  * event seen — so the store is O(|users|), independent of event
  * volume, and nothing ever needs eviction (a user's next event always
  * replaces, never accumulates — state only ever advances, never
  * regresses). Under ordered replay the emitted edge multiset equals
  * the batch operator's lead-window pair extraction exactly
  * (spec-pinned); [[transitionMatrix]] folds edges into q_transitions'
  * normalized matrix shape for dashboard parity.
  *
  * Cross-batch reordering: within a batch, events sort into (ts,
  * event_id) order before chaining; an event that arrives in a LATER
  * batch but is older than the user's stored last event is skipped —
  * it joins no edge (the alternative, buffering until the watermark
  * closes, would cost per-event state; this operator's contract is
  * the O(|users|) store). The edge multiset under cross-batch
  * reordering is therefore the chain over each user's monotone event
  * suffix, spec-pinned.
  *
  * The skips are OBSERVABLE: pass a `LongAccumulator` (or read the
  * one [[apply]] registers by default, named
  * `graft.transitions.skipped`) — every discarded event adds 1, so an
  * operator watching transitionMatrix totals under sustained
  * reordering can see that the monotone-suffix contract is dropping
  * data instead of inferring it from count drift. AT-LEAST-ONCE: like
  * any transformation-side accumulator, task retries and replayed
  * micro-batches re-add their skips, so treat the value as an alert
  * signal / upper bound, not an exact ledger.
  */
object StreamTransitions {

  final case class Ev(user_id: Long, ts: Long, event_id: Long,
                      event_type: String,
                      __event_time: java.sql.Timestamp)
      extends SeriesFold.Keyed
  object Ev {
    implicit val byTsId: Ordering[Ev] = Ordering.by(e => (e.ts, e.event_id))
  }
  final case class Last(ts: Long, event_id: Long, event_type: String)
  final case class Edge(user_id: Long, from_type: String, to_type: String,
                        ts: Long)

  /** `events` carries `user_id`, epoch-µs `ts`, `event_id`, and
    * `event_type`; edges append as successors arrive.
    *
    * `skipped` counts the events discarded by the monotone-suffix
    * contract (cross-batch reordered arrivals); defaults to a fresh
    * accumulator registered as `graft.transitions.skipped`, readable
    * from the driver while the query runs.
    */
  def apply(spark: SparkSession, events: DataFrame,
            watermark: String = "10 minutes",
            skipped: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[Edge] = {
    import spark.implicits._
    val skipAcc = skipped.getOrElse(
      spark.sparkContext.longAccumulator("graft.transitions.skipped"))

    val evs = StreamRollup.eventTime(events, "ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("__event_time"))
      .as[Ev]
    // Events chain off the stored last event in (ts, event_id) order.
    // An event OLDER than the stored last (a cross-batch reordering
    // inside the watermark) is SKIPPED — emitting it would produce a
    // reversed edge, and regressing the state to it would corrupt
    // every subsequent edge for the user; the chain advances over the
    // monotone event suffix only (spec-pinned, see the class doc).
    SeriesFold(evs) { (user, last: Option[Last], e) =>
      if (last.forall(l =>
          l.ts < e.ts || (l.ts == e.ts && l.event_id < e.event_id)))
        (Some(Last(e.ts, e.event_id, e.event_type)),
          last.map(l => Edge(user, l.event_type, e.event_type, e.ts)))
      else {
        skipAcc.add(1)
        (last, None)
      }
    }
  }

  /** Fold emitted edges into the batch operator's normalized matrix:
    * (from_type, to_type, n, n_from, frac). Tiny-frame agg — |types|²
    * rows — so the window normalization is free.
    */
  def transitionMatrix(edges: DataFrame): DataFrame =
    edges.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("frac"))
}
