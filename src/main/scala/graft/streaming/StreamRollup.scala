package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TimeIndex

/** Structured-Streaming rollups — the unbounded form of
  * graft.operators.Rollup, mirroring pypond's push-based Pipeline
  * aggregator (reference: pypond/processor/aggregator.py; pypond
  * pipelines are observer chains over unbounded streams,
  * bases.py:24-156).
  *
  * The watermark plays the role of the reference's emit_on
  * "discard"/window-close policy: a window emits once the watermark
  * passes its end, i.e. late events beyond the watermark are dropped —
  * pypond's emit_on='discards' semantics, but distributed and
  * fault-tolerant via Spark state store.
  */
object StreamRollup {

  /** Convert a pypond window string ("30s"/"5m"/"1h"/"1d") into the
    * Spark interval literal window() expects.
    */
  def interval(win: String): String = s"${TimeIndex.durationMs(win) / 1000} seconds"

  /** The event-time prologue of every watermarked streaming operator:
    * `__event_time` is the epoch-µs long `tsCol` as a timestamp, and
    * the watermark trails its maximum by `watermark`.
    */
  def eventTime(stream: DataFrame, tsCol: String, watermark: String): DataFrame =
    stream.withColumn("__event_time", timestamp_micros(col(tsCol)))
      .withWatermark("__event_time", watermark)

  /** The bounds of window column `w` as epoch-µs `ts_begin`/`ts_end`. */
  def windowBounds(df: DataFrame): DataFrame =
    df.withColumn("ts_begin", unix_micros(col("w.start")))
      .withColumn("ts_end", unix_micros(col("w.end")))

  /** Fixed-window rollup over a STREAMING DataFrame whose `tsCol` is an
    * epoch-µs long (the canonical graft shape). Emits the same
    * "5m-NNN" index string as the batch Rollup, plus window bounds.
    */
  def fixedWindow(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                  win: String, watermark: String, aggs: Seq[Column]): DataFrame = {
    val gb = keyCols.map(col) :+ window(col("__event_time"), interval(win)).as("w")
    windowBounds(eventTime(stream, tsCol, watermark)
      .groupBy(gb: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("idx",
        TimeIndex.indexOf(unix_micros(col("w.start")), win)))
      .drop("w")
  }

  /** Sliding (overlapping) window rollup over a streaming DataFrame —
    * the unbounded twin of Rollup.slidingWindow. Spark's native
    * `window(size, slide)` fans each event out to the size/slide
    * windows containing it (same epoch-aligned window set as the batch
    * operator's explode), and the watermark closes each window once no
    * earlier event can still arrive. State per key = the open windows
    * inside one watermark horizon — bounded on an unbounded stream.
    */
  def slidingWindow(stream: DataFrame, tsCol: String, keyCols: Seq[String],
                    size: String, slide: String, watermark: String,
                    aggs: Seq[Column]): DataFrame = {
    val gb = keyCols.map(col) :+
      window(col("__event_time"), interval(size), interval(slide)).as("w")
    windowBounds(eventTime(stream, tsCol, watermark)
      .groupBy(gb: _*)
      .agg(aggs.head, aggs.tail: _*))
      .drop("w")
  }
}
