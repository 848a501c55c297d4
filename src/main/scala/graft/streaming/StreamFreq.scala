package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Freq, TextOps}
import org.apache.spark.sql.graft.GraftExpressions.poly_hash

/** Streaming count-min grid — the live twin of
  * graft.operators.Freq.cmsHeavyHitters: per event-time window, the
  * d×w counter grid of the window's token stream, emitted when the
  * watermark closes the window. The frequency monitor an ingest
  * pipeline keeps on its stream: any token's window count can be
  * probed from the grid afterwards (min over the d cells, never an
  * undercount), without the stream ever carrying per-token state.
  *
  * State story — the reason this exists: an exact windowed top-k
  * (StreamTopK) holds one map entry PER DISTINCT KEY in every open
  * window, so a crawl with an unbounded vocabulary grows state with
  * the data; the CMS grid holds AT MOST depth·width rows per open
  * window no matter the vocabulary — the sketch's fixed-size
  * mergeable state is exactly Spark's partial-agg state here. Same
  * cells as the batch grid by construction ([[Freq.bucket]] shared),
  * so a backfilled audit and the live grid agree cell for cell.
  *
  * Output per closed (window, r, bk): ts_begin, ts_end, r, bk, c.
  */
object StreamFreq {

  /** `stream` carries `textCol` and an epoch-µs `tsCol`. */
  def cmsGrid(stream: DataFrame, tsCol: String, textCol: String,
              win: String, watermark: String,
              depth: Int = 4, width: Int = 256): DataFrame = {
    val toks = StreamRollup.eventTime(stream, tsCol, watermark)
      .select(col("__event_time"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("__h", poly_hash(col("tok")))
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("__event_time"), col("r"),
        Freq.bucket(col("__h"), col("r"), width).as("bk"))
    StreamRollup.windowBounds(toks
      .groupBy(window(col("__event_time"), StreamRollup.interval(win)).as("w"),
        col("r"), col("bk"))
      .agg(count(lit(1)).as("c")))
      .select("ts_begin", "ts_end", "r", "bk", "c")
  }

  /** Probe a collected grid for a token's estimated count in one
    * window: min over the depth cells — the driver-side read path of
    * the serving store the grid lands in (a few KB per window).
    */
  def estimate(grid: Map[(Int, Long), Long], token: String,
               depth: Int = 4, width: Int = 256): Long = {
    val h = graft.functions.HashImpl.polyHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(token))
    (0 until depth).map { r =>
      val bk = ((h * (654664997L + r * 97L)) % TextOps.HashMod) % width
      grid.getOrElse((r, bk), 0L)
    }.min
  }
}
