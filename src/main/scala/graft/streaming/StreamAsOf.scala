package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming as-of lookup — the unbounded form of
  * graft.operators.Combine.asof (reference: pypond/series.py:335,395
  * at_time/bisect): every lookup row is answered with the latest
  * reference value at-or-before its timestamp within the same key,
  * with the reference stream's head living in the state store.
  *
  * Scale shape: O(1) state per key (one (ts, value) pair — the same
  * "latest right row" the batch window's last(ignoreNulls) carries),
  * both streams hash-partition on the series key only. Emits exactly
  * the rows the batch operator would when arrival respects event time
  * across micro-batches (the StreamRate contract); within a
  * micro-batch, rows are processed in (ts, ref-before-lookup) order —
  * the batch operator's tag order, so equal-ts semantics match.
  */
object StreamAsOf {

  final case class Lookup(user_id: Long, ts: Long, event_id: Long)
  final case class Ref(user_id: Long, ts: Long, value: Double)
  final case class Tagged(user_id: Long, ts: Long, isL: Boolean,
                          event_id: Long, value: Double) extends SeriesFold.Keyed
  object Tagged {
    /** refs before lookups at equal ts: the batch operator's tag order */
    implicit val byTsTag: Ordering[Tagged] = Ordering.by(t => (t.ts, t.isL))
  }
  final case class Latest(ts: Long, value: Double)
  final case class Out(user_id: Long, ts: Long, event_id: Long,
                       asof_value: Option[Double])

  /** `toleranceUs < 0` disables the staleness bound (plain as-of);
    * otherwise a match older than `toleranceUs` answers None — the
    * streaming twin of Combine.asofTolerance, with the SAME O(1)
    * (ts, value) state (the bound is checked at answer time, so the
    * state shape is unchanged).
    */
  def apply(spark: SparkSession, lookups: Dataset[Lookup],
            refs: Dataset[Ref], toleranceUs: Long = -1L): Dataset[Out] = {
    import spark.implicits._
    val tagged = lookups
      .map(l => Tagged(l.user_id, l.ts, isL = true, l.event_id, 0.0))
      .unionByName(refs.map(r => Tagged(r.user_id, r.ts, isL = false, 0L, r.value)))

    SeriesFold(tagged) { (user, cur: Option[Latest], t) =>
      if (!t.isL) (Some(Latest(t.ts, t.value)), None)
      else (cur, Some(Out(user, t.ts, t.event_id,
        cur.filter(c => toleranceUs < 0 || t.ts - c.ts <= toleranceUs)
          .map(_.value))))
    }
  }
}
