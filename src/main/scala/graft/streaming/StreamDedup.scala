package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming exact deduplication (the unbounded twin of Dedup.exact /
  * Shape.dedup — reference: pypond/collection.py:434 dedup over an
  * unbounded Pipeline).
  *
  * Uses `dropDuplicatesWithinWatermark`: the state store only has to
  * remember keys until the watermark passes them, so dedup state is
  * BOUNDED at any input rate — the only formulation that survives an
  * unbounded 100 TB/day stream (plain `dropDuplicates` on a stream
  * accumulates state forever). Duplicates arriving later than
  * `delay` are admitted; that is the documented recall/state dial.
  */
object StreamDedup {

  /** Drop rows whose `keyCols` were already seen within the watermark
    * window. `tsCol` is an epoch-µs long (graft's canonical time).
    */
  def apply(df: DataFrame, tsCol: String, keyCols: Seq[String],
            delay: String = "1 hour"): DataFrame =
    StreamRollup.eventTime(df, tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("__event_time")
}
