package graft.ts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet
import graft.operators._
import graft.functions.TimeIndex

/** Inclusive time range over epoch-µs longs
  * (reference: pypond/range.py; pypond stores ms, graft keeps µs — the
  * finest precision the whole verification chain round-trips exactly).
  *
  * `overlaps` keeps pypond's quirk (range.py:396-412): true only for
  * PARTIAL overlap — full containment is `contains`, not `overlaps`.
  */
final case class TimeRange(beginUs: Long, endUs: Long) {
  require(beginUs <= endUs, "begin must be <= end")
  def durationUs: Long = endUs - beginUs
  def durationMs: Long = durationUs / 1000L
  def containsTime(t: Long): Boolean = beginUs <= t && endUs >= t
  def contains(o: TimeRange): Boolean = beginUs <= o.beginUs && endUs >= o.endUs
  def overlaps(o: TimeRange): Boolean =
    (containsTime(o.beginUs) && !containsTime(o.endUs)) ||
      (containsTime(o.endUs) && !containsTime(o.beginUs))
  def disjoint(o: TimeRange): Boolean = endUs < o.beginUs || beginUs > o.endUs
  /** True when this range is completely inside `o` (range.py:379). */
  def within(o: TimeRange): Boolean = o.beginUs <= beginUs && o.endUs >= endUs
  def intersection(o: TimeRange): Option[TimeRange] =
    if (disjoint(o)) None
    else Some(TimeRange(math.max(beginUs, o.beginUs), math.min(endUs, o.endUs)))
  def extents(o: TimeRange): TimeRange =
    TimeRange(math.min(beginUs, o.beginUs), math.max(endUs, o.endUs))
}

object TimeRange {
  /** Column-level predicates for (begin, end) pairs, mirroring the
    * instance methods for distributed use.
    */
  def overlapsCol(b1: Column, e1: Column, b2: Column, e2: Column): Column = {
    val c1 = b1 <= b2 && e1 >= b2 // contains other's begin
    val c2 = b1 <= e2 && e1 >= e2 // contains other's end
    (c1 && !c2) || (c2 && !c1)
  }
  def intersectionDurUs(b1: Column, e1: Column, b2: Column, e2: Column): Column =
    when(e1 < b2 || b1 > e2, lit(null))
      .otherwise(least(e1, e2) - greatest(b1, b2))
}

/** A distributed TimeSeries (reference: pypond/series.py).
  *
  * Where pypond holds ONE series in driver memory, graft holds MILLIONS
  * of series in one DataFrame: `keyCols` identifies the series, `tsCol`
  * is an epoch-µs long, everything else is value columns. Every method
  * returns a new lazy plan; stateful processors shuffle once on the
  * series key.
  */
final case class TimeSeries(
    df: DataFrame,
    tsCol: String = "ts",
    keyCols: Seq[String] = Nil,
    meta: Map[String, String] = Map.empty) {

  private def valueCols: Seq[String] =
    df.columns.filterNot(c => c == tsCol || keyCols.contains(c)).toSeq

  private def wrap(d: DataFrame): TimeSeries = copy(df = d)

  // --- accessors (series.py:258-330) --------------------------------
  def begin(): Long = df.agg(min(col(tsCol))).head().getLong(0)
  def end(): Long = df.agg(max(col(tsCol))).head().getLong(0)
  def timerange(): TimeRange = {
    val r = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    TimeRange(r.getLong(0), r.getLong(1))
  }
  def size(): Long = df.count()

  // --- shaping ------------------------------------------------------
  def select(fields: Seq[String]): TimeSeries =
    wrap(Shape.select(df, keyCols ++ Seq(tsCol) ++ fields))
  def rename(renames: Map[String, String]): TimeSeries =
    wrap(Shape.rename(df, renames))
  def filter(pred: Column): TimeSeries = wrap(df.where(pred))
  def map(f: DataFrame => DataFrame): TimeSeries = wrap(f(df))
  def clean(field: String): TimeSeries = wrap(Shape.clean(df, field))
  def crop(r: TimeRange): TimeSeries =
    wrap(Shape.crop(df, tsCol, r.beginUs, r.endUs))
  def dedup(orderCol: String): TimeSeries =
    wrap(Shape.dedup(df, keyCols :+ tsCol, orderCol))
  /** Collection.sort(field_path) (collection.py:460): per-series rank
    * position by a value field; pass a unique trailing tiebreak.
    */
  def sortByField(orderCols: Seq[String]): TimeSeries =
    wrap(Shape.sortBy(df, keyCols, orderCols))
  def take(n: Int, tieBreak: Seq[String] = Nil): TimeSeries =
    wrap(Shape.take(df, tsCol, keyCols, n, tieBreak))
  def offsetBy(by: Double, fields: Seq[String]): TimeSeries =
    wrap(Shape.offsetBy(df, by, fields))
  def collapse(fields: Seq[String], name: String,
               reducer: Seq[Column] => Column, append: Boolean = true): TimeSeries =
    wrap(Shape.collapse(df, fields, name, reducer, append))

  // --- stateful processors ------------------------------------------
  def align(fields: Seq[String], window: String, method: String = "linear",
            limit: Option[Int] = None): TimeSeries =
    wrap(Align(df, tsCol, fields, keyCols, window, method, limit))
  def rate(fields: Seq[String], allowNegative: Boolean = true): TimeSeries =
    copy(df = Rate(df, tsCol, fields, keyCols, allowNegative), tsCol = "ts_end")
  def fillZero(fields: Seq[String]): TimeSeries = wrap(Fill.zero(df, fields))
  def fillPad(fields: Seq[String], limit: Option[Int] = None): TimeSeries =
    wrap(Fill.pad(df, tsCol, fields, keyCols, limit))
  def fillLinear(field: String, limit: Option[Int] = None): TimeSeries =
    wrap(Fill.linear(df, tsCol, field, keyCols, limit))

  // --- rollups ------------------------------------------------------
  def fixedWindowRollup(window: String, aggs: Seq[Column]): DataFrame =
    Rollup.fixedWindow(df, tsCol, keyCols, window, aggs)
  def hourlyRollup(aggs: Seq[Column]): DataFrame = fixedWindowRollup("1h", aggs)
  /** `tz=Some(zone)` = pypond's utc=False local-time rollup with the
    * zone explicit (series.py:1278,1333,1388).
    */
  def dailyRollup(aggs: Seq[Column], tz: Option[String] = None): DataFrame =
    Rollup.calendar(df, tsCol, keyCols, "daily", aggs, tz)
  def monthlyRollup(aggs: Seq[Column], tz: Option[String] = None): DataFrame =
    Rollup.calendar(df, tsCol, keyCols, "monthly", aggs, tz)
  def yearlyRollup(aggs: Seq[Column], tz: Option[String] = None): DataFrame =
    Rollup.calendar(df, tsCol, keyCols, "yearly", aggs, tz)
  def collectByFixedWindow(window: String, aggs: Seq[Column]): DataFrame =
    Rollup.fixedWindowRange(df, tsCol, keyCols, window, aggs)

  // --- whole-series aggregation (series.py:675-940) ------------------
  def aggregate(aggs: Seq[Column]): DataFrame =
    if (keyCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

  // --- point lookups (series.py:320-367, collection.py:189-349) ------

  /** Latest event at or before t — TimeSeries.at_time / bisect
    * semantics (series.py:335,395) as a pushed-down filter + per-key
    * top-1, not a driver-side binary search. `tieBreak` columns order
    * equal-ts events deterministically (descending, like ts).
    */
  def atTime(tUs: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(c => col(c).desc): _*)
    df.where(col(tsCol) <= tUs)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Collection.at_key (collection.py:238): ALL events at exactly the
    * given timestamp key — the multi-event sibling of [[atTime]]'s
    * latest-at-or-before lookup. A pushed-down equality filter: at
    * any corpus scale this is a parquet scan with `ts = key` in
    * PushedFilters — no shuffle at all.
    */
  def atKey(tUs: Long): DataFrame =
    df.where(col(tsCol) === org.apache.spark.sql.functions.lit(tUs))

  /** [[atKey]] for a FRAME of keys — the distributed lookup: the key
    * list (small by construction) broadcasts against the corpus scan,
    * so many exact-timestamp lookups run in one pass with zero corpus
    * shuffle. `keys`'s single column may be an aggregate of the corpus
    * itself (e.g. min(ts)), keeping the key derivation in-plan.
    */
  def atKeyOf(keys: DataFrame): DataFrame = {
    // the key column is renamed to a reserved internal name before the
    // join: a caller-supplied keys frame naturally names its column
    // "ts" (or whatever tsCol is), and joining on the raw name would
    // make col(tsCol) ambiguous and throw
    val kc = "__at_key"
    val k = keys.toDF(kc)
    df.join(org.apache.spark.sql.functions.broadcast(k),
      col(tsCol) === col(kc)).drop(kc)
  }

  /** Collection.event_list_as_map (collection.py:414): events grouped
    * by exact timestamp key — per (series, ts), the deterministically
    * ordered list of a field's values. ONE partial-agg'd shuffle.
    */
  def eventListAsMap(valCol: String): DataFrame =
    df.groupBy(keyCols.map(col) :+ col(tsCol): _*)
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(col(valCol)))
        .as(s"${valCol}_list"))

  def atFirst(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** TimeSeries.same (series.py:1505): identical data regardless of
    * row order / metadata.
    */
  def sameAs(other: TimeSeries): Boolean =
    df.exceptAll(other.df).isEmpty && other.df.exceptAll(df).isEmpty
}

object TimeSeries {
  /** Lift a DataFrame whose time column is a Spark timestamp into the
    * canonical epoch-µs long representation.
    */
  def fromTimestamp(df: DataFrame, tsCol: String, keyCols: Seq[String] = Nil): TimeSeries =
    TimeSeries(df.withColumn(tsCol, unix_micros(col(tsCol))), tsCol, keyCols)

  /** Read parquet whose time column may be any supported physical type
    * (TIMESTAMP(NANOS) surfaced as long under nanosAsLong, TIMESTAMP, or
    * TIMESTAMP_NTZ); normalized to the canonical epoch-µs long. The
    * session must read nanos as longs, as every session built by
    * [[graft.GraftSession.configure]] does.
    */
  def readParquetNanos(spark: SparkSession, path: String, tsCol: String,
                       keyCols: Seq[String] = Nil): TimeSeries = {
    require(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"),
      "readParquetNanos needs spark.sql.legacy.parquet.nanosAsLong=true: " +
        "build the session with graft.GraftSession.configure")
    val df = Parquet.read(spark, path)
    TimeSeries(graft.functions.TimeIndex.normalizeUs(df, tsCol), tsCol, keyCols)
  }

  /** Parquet with a regular timestamp column. */
  def readParquet(spark: SparkSession, path: String, tsCol: String,
                  keyCols: Seq[String] = Nil): TimeSeries =
    fromTimestamp(Parquet.read(spark, path), tsCol, keyCols)

  /** CSV with header; the time column may be a timestamp or ISO string. */
  def readCsv(spark: SparkSession, path: String, tsCol: String,
              keyCols: Seq[String] = Nil): TimeSeries = {
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path)
    fromTimestamp(df.withColumn(tsCol, col(tsCol).cast("timestamp")), tsCol, keyCols)
  }

  /** Line-delimited JSON with a timestamp (or ISO string) time column. */
  def readJson(spark: SparkSession, path: String, tsCol: String,
               keyCols: Seq[String] = Nil): TimeSeries =
    fromTimestamp(
      spark.read.json(path).withColumn(tsCol, col(tsCol).cast("timestamp")),
      tsCol, keyCols)
}
