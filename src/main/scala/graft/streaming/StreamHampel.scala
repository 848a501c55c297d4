package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import SeriesFold.Ev

/** Streaming Hampel despike — the unbounded form of
  * graft.operators.Trend.hampel in its TRAILING geometry (a live
  * stream cannot see the future half of a centered window): each
  * event is judged against the lower-median / lower-MAD of the last
  * `span` values of its series, flagged when
  * |x − med| > nSigma · 1.4826 · MAD, and repaired to the median.
  *
  * The decision replays the batch operator's integer µ-unit
  * cross-multiplication (|v6−med6|·10⁴ > nSigma·14826·mad6), so the
  * stream's flags are IDENTICAL to Trend.hampel(centered = false)
  * under ordered replay — spec-pinned. State per key is the last
  * `span` values: bounded regardless of stream length (the
  * StreamEwma convention).
  */
object StreamHampel {

  final case class Out(user_id: Long, ts: Long, value: Double,
                       med: Double, mad: Double, is_outlier: Boolean,
                       repaired: Double)

  def apply(spark: SparkSession, events: Dataset[Ev],
            halfW: Int = 3, nSigma: Int = 3): Dataset[Out] = {
    import spark.implicits._
    val span = 2 * halfW + 1

    SeriesFold.trailing(events, span)(e => math.floor(e.value * 1e6).toLong) {
      (e, hist) =>
        val v6 = hist.last
        val lst = hist.sorted
        val idx = (lst.size + 1) / 2 - 1 // lower median, 0-based
        val med = lst(idx)
        val mad = lst.map(y => math.abs(y - med)).sorted.apply(idx)
        val flag = math.abs(v6 - med) * 10000L > nSigma * 14826L * mad
        Out(e.user_id, e.ts, e.value, med.toDouble / 1e6, mad.toDouble / 1e6,
          flag, if (flag) med.toDouble / 1e6 else e.value)
    }
  }
}
