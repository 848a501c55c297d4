package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming distribution-drift alarms — the live twin of
  * graft.operators.Trend.psiDrift: per (key, window), the Population
  * Stability Index of the window's value histogram against a FIXED
  * reference distribution (the training-time snapshot), emitted when
  * the watermark closes the window. The monitor a training-data
  * pipeline keeps on its ingest stream so a feature shift is an alert,
  * not a post-mortem.
  *
  * The histogram is nBins conditional counts inside ONE native
  * streaming window aggregate — all partial-aggregable longs, O(nBins)
  * state per open window — and the PSI arithmetic runs scan-side on
  * the closed window's counts. The reference is a plain literal
  * (probabilities, already smoothed by the caller), so the stream side
  * carries no join at all.
  */
object StreamDrift {

  /** `stream`'s `tsCol` is an epoch-µs long. `refProbs(i)` is the
    * reference probability of bin i (length = bin count; every entry
    * must be > 0 — smooth before calling). Window-side probabilities
    * get add-½ smoothing so empty bins stay finite.
    *
    * Output: keyCols, ts_begin, ts_end, n, psi.
    */
  def psi(stream: DataFrame, tsCol: String, valCol: String,
          keyCols: Seq[String], win: String, watermark: String,
          refProbs: Seq[Double], binWidth: Double): DataFrame = {
    require(refProbs.nonEmpty && refProbs.forall(_ > 0.0),
      "reference probabilities must be positive (smooth them first)")
    val nBins = refProbs.size
    val bin = least(greatest(floor(col(valCol) / lit(binWidth)), lit(0)),
      lit(nBins - 1)).cast("int")
    val counts = (0 until nBins).map(i =>
      sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"__c$i"))
    val agged = StreamRollup.windowBounds(
      StreamRollup.eventTime(stream, tsCol, watermark)
        .withColumn("__b", bin)
        .groupBy(keyCols.map(col) :+
          window(col("__event_time"), StreamRollup.interval(win)).as("w"): _*)
        .agg(counts.head, counts.tail: _*))
    val n = (0 until nBins).map(i => col(s"__c$i")).reduce(_ + _)
    val terms = (0 until nBins).map { i =>
      val pw = (col(s"__c$i").cast("double") + lit(0.5)) /
        (n.cast("double") + lit(0.5 * nBins))
      val pr = lit(refProbs(i))
      (pw - pr) * (log(pw) - log(pr))
    }
    agged.select(keyCols.map(col) ++ Seq(col("ts_begin"), col("ts_end"),
      n.as("n"), round(terms.reduce(_ + _), 6).as("psi")): _*)
  }
}
