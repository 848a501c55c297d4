package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.TimeIndex
import SeriesFold.Ev

/** Streaming align — unbounded form of graft.operators.Align
  * (reference: pypond/processor/align.py, which is itself a streaming
  * processor with one previous event of state; here that state is in
  * the state store per series key).
  *
  * Semantics identical to batch Align: interior window boundaries
  * between consecutive events, linear or hold interpolation, limit
  * nulls, first event emitted only when already aligned. The
  * interpolation arithmetic is the same double ops as the batch
  * operator, so outputs are bit-identical.
  */
object StreamAlign {

  final case class Prev(ts: Long, value: Double)
  final case class Aligned(user_id: Long, ts: Long, value: Option[Double])

  def apply(spark: SparkSession, events: Dataset[Ev], window: String,
            method: String = "linear", limit: Option[Int] = None): Dataset[Aligned] = {
    require(method == "linear" || method == "hold", s"bad method: $method")
    val durUs = TimeIndex.durationUs(window)
    import spark.implicits._

    SeriesFold(events) { (user, prev: Option[Prev], e) =>
      val out = prev match {
        case None =>
          if (Math.floorMod(e.ts, durUs) == 0) Seq(Aligned(user, e.ts, Some(e.value)))
          else Nil
        case Some(p) =>
          val prevPos = Math.floorDiv(p.ts, durUs)
          val curPos = Math.floorDiv(e.ts, durUs)
          val overLimit = limit.exists(l => curPos - prevPos > l)
          (prevPos + 1 to curPos).map { pos =>
            val bTs = pos * durUs
            val v =
              if (overLimit) None
              else if (method == "hold") Some(p.value)
              else {
                val frac = (bTs - p.ts).toDouble / (e.ts - p.ts).toDouble
                Some(p.value + (e.value - p.value) * frac)
              }
            Aligned(user, bTs, v)
          }
      }
      (Some(Prev(e.ts, e.value)), out)
    }
  }
}
