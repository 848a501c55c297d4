package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming windowed value histogram — the live twin of ts_hist:
  * per (group, event-time window, fixed-width value bucket) the event
  * count, emitted when the watermark closes the window. The
  * distribution monitor an ingest pipeline keeps on a value stream
  * (latency histograms, payload-size mixes) without ever holding
  * per-event state.
  *
  * State story: the histogram IS Spark's partial-agg state — at most
  * #groups · nBuckets rows per open window no matter the event
  * volume, the same fixed-mergeable-state argument as StreamFreq's
  * CMS grid (and unlike exact per-key top-k, which grows with
  * distinct keys). Bucketing is the identical floor/clamp arithmetic
  * as the batch operator, so a backfilled batch histogram and the
  * live one agree bucket for bucket.
  *
  * Output per closed (window, group, bucket): ts_begin, ts_end,
  * group, bucket, lo, hi, n.
  */
object StreamHist {

  /** `stream` carries `grpCol`, `valCol` and an epoch-µs `tsCol`. */
  def histogram(stream: DataFrame, tsCol: String, valCol: String,
                grpCol: String, win: String, watermark: String,
                bucketWidth: Double = 25.0, nBuckets: Int = 20): DataFrame = {
    val b = least(greatest(floor(col(valCol) / bucketWidth), lit(0)),
      lit(nBuckets - 1)).cast("int")
    StreamRollup.windowBounds(StreamRollup.eventTime(stream, tsCol, watermark)
      .groupBy(window(col("__event_time"), StreamRollup.interval(win)).as("w"),
        col(grpCol), b.as("bucket"))
      .agg(count(lit(1)).as("n")))
      .select(col("ts_begin"), col("ts_end"), col(grpCol), col("bucket"),
        (col("bucket") * bucketWidth).as("lo"),
        ((col("bucket") + 1) * bucketWidth).as("hi"),
        col("n"))
  }
}
