package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming Holt double-exponential smoothing — the unbounded form of
  * graft.operators.Trend.holt, same bounded-span contract: each
  * emitted row folds l' = αx + (1-α)(l+b); b' = β(l'−l) + (1-β)b over
  * the trailing `span` values of its series, seeded with (oldest
  * value, 0).
  *
  * State per key is the last `span` values — bounded regardless of
  * stream length. Re-folding per event (rather than carrying one
  * running (l, b)) is what makes the result IDENTICAL to the batch
  * window operator, so backfill and live stream produce the same
  * level/trend columns. The fold's float order matches HoltAgg's
  * update trees exactly.
  */
object StreamHolt {

  final case class HoltOut(user_id: Long, ts: Long, value: Double,
                           level: Double, trend: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            alpha: Double = 0.3, beta: Double = 0.2,
            span: Int = 20): Dataset[HoltOut] = {
    import spark.implicits._

    SeriesFold.trailing(events, span)(_.value) { (e, hist) =>
      var l = hist.head
      var b = 0.0
      hist.tail.foreach { x =>
        val ln = x * alpha + (l + b) * (1.0 - alpha)
        b = (ln - l) * beta + b * (1.0 - beta)
        l = ln
      }
      HoltOut(e.user_id, e.ts, e.value, SeriesFold.floor6(l), SeriesFold.floor6(b))
    }
  }
}
