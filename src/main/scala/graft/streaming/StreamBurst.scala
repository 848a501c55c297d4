package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming Kleinberg burst alarms — the unbounded form of
  * graft.operators.Trend.burst, same bounded-span contract: each
  * event's state is the renormalized forward-Viterbi fold over the
  * trailing `span` inter-event gaps of its series, seeded (0, γ).
  *
  * State per key is the previous timestamp plus the last `span` gaps —
  * bounded regardless of stream length. Re-folding per event (the
  * StreamHolt convention) with the same float order as BurstAgg's
  * update trees makes the stream's alarms IDENTICAL to the batch
  * operator UNDER IN-ORDER ARRIVAL ACROSS BATCHES (within a batch,
  * events sort by ts first). An event landing in a later batch with
  * ts older than the stored lastTs would produce a negative gap — a
  * negative Viterbi cost, a state the batch operator (which orders
  * the whole series) can never reach — so such stragglers are
  * DROPPED. Parity is therefore exact ONLY under ordered replay;
  * under disorder the divergence is wider than the dropped row
  * itself — a batch backfill over the full data would route the
  * series' gap chain through the straggler, so events after it get
  * different gap values (and possibly different alarms) than the
  * stream emitted. The stream never corrupts its state, but its
  * post-straggler outputs are those of the straggler-free series,
  * not of the full one.
  * Each key's first-ever event has no gap and emits nothing (the
  * batch operator drops it too).
  */
object StreamBurst {

  final case class Ev(user_id: Long, ts: Long) extends SeriesFold.Keyed
  object Ev {
    implicit val byTs: Ordering[Ev] = Ordering.by(_.ts)
  }
  final case class Hist(lastTs: Long, gaps: Seq[Double])
  final case class BurstOut(user_id: Long, ts: Long, gap_s: Double,
                            burst: Boolean, score: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            lam0: Double, lam1: Double, gamma: Double,
            span: Int = 20): Dataset[BurstOut] = {
    import spark.implicits._
    val (k0, k1) = (-math.log(lam0), -math.log(lam1))

    SeriesFold(events) { (user, st: Option[Hist], e) =>
      st match {
        case None => (Some(Hist(e.ts, Vector.empty)), None)
        // a cross-batch straggler (older than the stored lastTs) is
        // dropped, state untouched — see the class doc
        case Some(h) if e.ts < h.lastTs => (st, None)
        case Some(h) =>
          val gap = (e.ts - h.lastTs).toDouble / 1e6
          val gaps = (h.gaps.toVector :+ gap).takeRight(span)
          var c0 = 0.0
          var c1 = gamma
          gaps.foreach { x =>
            val r0 = math.min(c0, c1) + (x * lam0 + k0)
            val r1 = math.min(c1, c0 + gamma) + (x * lam1 + k1)
            val m = math.min(r0, r1)
            c0 = r0 - m
            c1 = r1 - m
          }
          (Some(Hist(e.ts, gaps)),
            Some(BurstOut(user, e.ts, gap, c1 < c0, SeriesFold.floor6(c0 - c1))))
      }
    }
  }
}
