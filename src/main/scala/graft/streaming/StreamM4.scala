package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TimeIndex

/** Streaming M4 downsampling — the live-dashboard half of
  * graft.operators.Trend.m4 (Jugel et al., VLDB 2014): per
  * (series, window), the first/last/min/max anchor points a
  * pixel-perfect line rendering needs, emitted as each window closes.
  *
  * M4 is PURE aggregation (struct min/max — all partial-aggregable,
  * commutative, mergeable), so it runs as a native streaming window
  * aggregate: state per key is four (ts, value) pairs per open window
  * inside the watermark horizon — O(1), never a buffer of events.
  * The same tie-breaks as the batch operator apply (earliest ts among
  * equal minima, latest among maxima; lowest/highest value at an
  * equal-ts edge), so a backfilled chart and the live chart agree
  * point for point.
  */
object StreamM4 {

  /** `stream`'s `tsCol` is an epoch-µs long (the canonical graft
    * shape). Output matches Trend.m4: keyCols, bucket, n, t_first,
    * v_first, t_last, v_last, vmin, tmin, vmax, tmax.
    */
  def m4(stream: DataFrame, tsCol: String, valCol: String,
         keyCols: Seq[String], win: String, watermark: String): DataFrame = {
    val withTime = StreamRollup.eventTime(stream, tsCol, watermark)
    val gb = keyCols.map(col) :+
      window(col("__event_time"), StreamRollup.interval(win)).as("w")
    withTime.groupBy(gb: _*)
      .agg(count(lit(1)).as("n"),
        min(struct(col(tsCol), col(valCol))).as("__f"),
        max(struct(col(tsCol), col(valCol))).as("__l"),
        min(struct(col(valCol), col(tsCol))).as("__mn"),
        max(struct(col(valCol), col(tsCol))).as("__mx"))
      .select(keyCols.map(col) ++ Seq(
        TimeIndex.posOf(unix_micros(col("w.start")), win).as("bucket"),
        col("n"),
        col(s"__f.$tsCol").as("t_first"), col(s"__f.$valCol").as("v_first"),
        col(s"__l.$tsCol").as("t_last"), col(s"__l.$valCol").as("v_last"),
        col(s"__mn.$valCol").as("vmin"), col(s"__mn.$tsCol").as("tmin"),
        col(s"__mx.$valCol").as("vmax"), col(s"__mx.$tsCol").as("tmax")): _*)
  }
}
