package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming EWMA — the unbounded form of graft.operators.Trend.ewma,
  * same bounded-span contract: each emitted row is the recursive fold
  * s := (1-alpha)*s + alpha*x over the trailing `span` values of its
  * series, seeded with the window's oldest value.
  *
  * State per key is the last `span` values (a few hundred bytes) —
  * bounded regardless of stream length. The fold repeats per event
  * rather than carrying one running s, which is what makes the result
  * IDENTICAL to the batch operator (a running s never forgets history;
  * the bounded fold does, by design), so batch backfill and the live
  * stream produce the same column.
  */
object StreamEwma {

  final case class EwmaOut(user_id: Long, ts: Long, value: Double, ewma: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            alpha: Double = 0.3, span: Int = 20): Dataset[EwmaOut] = {
    import spark.implicits._
    val keep = 1.0 - alpha

    SeriesFold.trailing(events, span)(_.value) { (e, hist) =>
      val ew = hist.tail.foldLeft(hist.head)((acc, x) => acc * keep + x * alpha)
      EwmaOut(e.user_id, e.ts, e.value, SeriesFold.floor6(ew))
    }
  }
}
