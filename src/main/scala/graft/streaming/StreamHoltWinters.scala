package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming Holt-Winters triple smoothing — the unbounded form of
  * graft.operators.Trend.holtWinters, same bounded-span contract: each
  * emitted row folds the level/trend/seasonal recursion over the
  * trailing `span` values of its series, seeded with (oldest value, 0,
  * zero seasonal profile).
  *
  * State per key is the last `span` values — bounded regardless of
  * stream length (the seasonal array is RE-DERIVED inside the fold, so
  * it never has to be checkpointed separately). Re-folding per event
  * rather than carrying one running (l, b, s[·]) is what makes the
  * result IDENTICAL to the batch window operator — backfill and live
  * stream produce the same level/trend/seasonal columns. The fold's
  * float order matches HwAgg's update trees exactly.
  */
object StreamHoltWinters {

  final case class HwOut(user_id: Long, ts: Long, value: Double,
                         level: Double, trend: Double, seasonal: Double,
                         forecast: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            alpha: Double = 0.3, beta: Double = 0.2, gamma: Double = 0.3,
            period: Int = 7, span: Int = 28): Dataset[HwOut] = {
    import spark.implicits._

    import SeriesFold.floor6
    SeriesFold.trailing(events, span)(_.value) { (e, hist) =>
      var l = hist.head
      var b = 0.0
      var cnt = 1
      val s = new Array[Double](period)
      hist.tail.foreach { x =>
        val p = cnt % period
        val sp = s(p)
        val ln = (x - sp) * alpha + (l + b) * (1.0 - alpha)
        b = (ln - l) * beta + b * (1.0 - beta)
        s(p) = (x - ln) * gamma + sp * (1.0 - gamma)
        l = ln
        cnt += 1
      }
      HwOut(e.user_id, e.ts, e.value, floor6(l), floor6(b),
        floor6(s((cnt - 1) % period)),
        floor6(l + b + s(cnt % period)))
    }
  }
}
