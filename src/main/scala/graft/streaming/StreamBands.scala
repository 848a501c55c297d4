package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming Bollinger bands — the unbounded form of the ts_bands
  * query: trailing-20 mean ± 2σ envelope + breach flag per event.
  *
  * State per key is the last 20 values. The re-fold reproduces the
  * batch window aggregates' EXACT float sequences: mean as Spark's
  * Average (sequential sum in frame order, one divide), σ as Spark's
  * CentralMomentAgg (Welford: delta/deltaN/m2 update per value), and
  * the same round-6 (BigDecimal.valueOf HALF_UP — Spark's Round) on
  * mid/σ before the band arithmetic — so live alerts and backfilled
  * ones are bit-identical, spec-pinned.
  */
object StreamBands {

  final case class BandOut(user_id: Long, ts: Long, value: Double,
                           mid: Double, sigma: Double, band_up: Double,
                           band_dn: Double, breach: String)

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def apply(spark: SparkSession, events: Dataset[Ev],
            span: Int = 20, width: Double = 2.0): Dataset[BandOut] = {
    import spark.implicits._

    SeriesFold.trailing(events, span)(_.value) { (e, hist) =>
      // Spark Average: sequential frame-order sum, one divide
      var sum = 0.0
      hist.foreach(sum += _)
      val mid = round6(sum / hist.length)
      // Spark CentralMomentAgg (stddev_pop): Welford fold
      var n = 0.0
      var avg = 0.0
      var m2 = 0.0
      hist.foreach { x =>
        n += 1.0
        val delta = x - avg
        val deltaN = delta / n
        avg += deltaN
        m2 += delta * (delta - deltaN)
      }
      val sigma = round6(math.sqrt(m2 / n))
      val up = round6(mid + width * sigma)
      val dn = round6(mid - width * sigma)
      val breach =
        if (e.value > up) "up" else if (e.value < dn) "down" else "in"
      BandOut(e.user_id, e.ts, e.value, mid, sigma, up, dn, breach)
    }
  }
}
