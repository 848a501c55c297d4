package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.TimeIndex
import SeriesFold.Ev

/** Streaming per-second derivative — the unbounded form of
  * graft.operators.Rate (reference: pypond/processor/rate.py keeps one
  * previous event per stream in driver state; here the previous event
  * lives in the state store per series key, so a restart resumes
  * mid-stream without losing a pair).
  *
  * Emits exactly the pairs the batch operator would: each incoming
  * event joined with its predecessor (across micro-batch boundaries
  * via state).
  */
object StreamRate {

  final case class Prev(ts: Long, value: Double)
  final case class RateOut(user_id: Long, ts_begin: Long, ts_end: Long,
                           value_rate: Option[Double])

  def apply(spark: SparkSession, events: Dataset[Ev],
            allowNegative: Boolean = true): Dataset[RateOut] = {
    import spark.implicits._

    SeriesFold(events) { (user, prev: Option[Prev], e) =>
      val out = prev.map { p =>
        val dtSec = (e.ts - p.ts).toDouble / TimeIndex.UsPerSec.toDouble
        // dt == 0 -> null like the batch operator's SQL division
        // (Scala '/' would produce Infinity/NaN); reference keeps the
        // row and nulls a disallowed negative rate (rate.py:120-124)
        val r = if (dtSec == 0.0) None else Some((e.value - p.value) / dtSec)
        RateOut(user, p.ts, e.ts, r.filter(v => allowNegative || v >= 0))
      }
      (Some(Prev(e.ts, e.value)), out)
    }
  }
}
