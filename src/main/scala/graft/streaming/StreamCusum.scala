package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming CUSUM drift alarms — the unbounded form of `Trend.cusum`
  * (Page's cumulative sum): S := max(0, S + (x - target)), emit while
  * S > h. The batch operator rewrites the recursion as prefix-sum +
  * running-min window algebra; the stream runs the recursion DIRECTLY,
  * because here it is the cheaper shape: state per series key is ONE
  * µ-unit long — O(1) and bounded regardless of stream length.
  *
  * Values fold as tie-free µ-unit floors (floor(x·1e6) BIGINT),
  * exactly like the batch side, so a backfill through Trend.cusum and
  * the live stream agree bit-for-bit (spec-pinned).
  */
object StreamCusum {

  final case class Sum(sUs: Long)
  final case class Alarm(user_id: Long, ts: Long, value: Double, cusum: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            target: Double, h: Double): Dataset[Alarm] = {
    import spark.implicits._
    val targetUs = math.round(target * 1e6)
    val hUs = math.round(h * 1e6)

    SeriesFold(events) { (user, st: Option[Sum], e) =>
      val s = math.max(0L,
        st.fold(0L)(_.sUs) + math.floor(e.value * 1e6).toLong - targetUs)
      (Some(Sum(s)),
        Option.when(s > hUs)(Alarm(user, e.ts, e.value, s.toDouble / 1e6)))
    }
  }
}
