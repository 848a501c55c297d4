package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch state-store telemetry harness.
  *
  * The class of bug this guards against: a stateful streaming operator
  * whose watermark/eviction plumbing silently fails, so
  * `stateOperators.numRowsTotal` grows without bound on an unbounded
  * stream even though every single-batch parity test stays green
  * (found in round 6 on StreamRangeJoin, whose exact-containment
  * conjuncts poisoned `StreamingJoinHelper.getStateWatermark`).
  *
  * `feedBatches` replays a sequence of micro-batches through a file
  * source — one parquet write + `processAllAvailable()` per batch, so
  * batch boundaries (and therefore watermark advancement, which Spark
  * applies at batch N+1 from batch N's max event time) are exact — and
  * returns every `StreamingQueryProgress` for assertions.
  */
object StreamHarness {

  /** Replay `batches` as separate micro-batches through `build`.
    * Returns (result rows table, one progress per non-empty batch).
    */
  def feedBatches(spark: SparkSession, batches: Seq[DataFrame],
                  build: DataFrame => DataFrame, outputMode: String,
                  name: String): (DataFrame, Seq[StreamingQueryProgress]) = {
    require(batches.nonEmpty)
    val dir = Files.createTempDirectory(s"graft_sb_$name").toString
    val schema = batches.head.schema
    // seed the source dir so the stream can start
    batches.head.write.mode("overwrite").parquet(s"$dir/b0")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(s"$dir/*")
    val q = build(stream).writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      batches.zipWithIndex.drop(1).foreach { case (b, i) =>
        b.write.mode("overwrite").parquet(s"$dir/b$i")
        q.processAllAvailable()
      }
      (spark.table(name), q.recentProgress.toSeq.filter(_.numInputRows > 0))
    } finally q.stop()
  }

  /** Replay `batches` with a KILL-AND-RESUME in the middle: run the
    * query over the first `killAfter` batches, stop it, land the
    * remaining batches while it is DOWN, then restart from the SAME
    * checkpoint into the SAME parquet sink and drain. The file sink's
    * commit log (`_spark_metadata`) makes output exactly-once across
    * the restart — a batch replayed after an interrupted epoch
    * overwrites, never appends twice — so the returned frame is the
    * run's full emitted row multiset: compare it against an
    * uninterrupted run to pin no-loss/no-duplication recovery. The
    * first run starts on `firstRun` (default: `spark`, which always
    * runs the resumed query), so a checkpoint can be written under
    * other confs. Also returns the resumed query's progresses, one per
    * non-empty batch.
    */
  def feedBatchesWithRestart(spark: SparkSession, batches: Seq[DataFrame],
                             build: DataFrame => DataFrame, killAfter: Int,
                             name: String, firstRun: Option[SparkSession] = None
                            ): (DataFrame, Seq[StreamingQueryProgress]) = {
    require(batches.nonEmpty && killAfter > 0 && killAfter < batches.size)
    val dir = Files.createTempDirectory(s"graft_rs_$name").toString
    val schema = batches.head.schema
    def start(s: SparkSession) = build(
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", Int.MaxValue)
        .parquet(s"$dir/src/*"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    batches.head.write.mode("overwrite").parquet(s"$dir/src/b0")
    val q1 = start(firstRun.getOrElse(spark))
    try {
      q1.processAllAvailable()
      batches.zipWithIndex.slice(1, killAfter).foreach { case (b, i) =>
        b.write.mode("overwrite").parquet(s"$dir/src/b$i")
        q1.processAllAvailable()
      }
    } finally q1.stop()
    batches.zipWithIndex.drop(killAfter).foreach { case (b, i) =>
      b.write.mode("overwrite").parquet(s"$dir/src/b$i")
    }
    val q2 = start(spark)
    try q2.processAllAvailable() finally q2.stop()
    (spark.read.parquet(s"$dir/out"),
      q2.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  /** Multiset equality via two-way exceptAll — catches BOTH loss and
    * duplication, which a set compare or a count compare alone
    * wouldn't. */
  def assertSameMultiset(got: DataFrame, want: DataFrame,
                         label: String): Unit = {
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    assert(missing == 0 && extra == 0,
      s"$label: $missing rows lost, $extra rows duplicated " +
        s"(got ${got.count()} vs want ${want.count()})")
  }

  /** numRowsTotal of the (single) stateful operator in each progress. */
  def stateRows(ps: Seq[StreamingQueryProgress]): Seq[Long] =
    ps.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)

  /** Total late rows dropped by watermark across the run — zero
    * whenever an operator claims batch-exact results under ordered
    * replay. */
  def lateDrops(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
}

class StreamStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val H = 3600L * 1000000L // one hour in µs
  private val M = 60L * 1000000L   // one minute in µs

  /** Batches of keyed events whose event time advances ~a day per
    * batch, so a 1-hour watermark passes far beyond batch N while
    * batch N+2 runs. Spark evicts with the watermark computed from the
    * PREVIOUS batch's max event time, so steady state holds the most
    * recent TWO batches; the bug class being guarded against holds all
    * of them. */
  private def advancingBatches(nKeys: Int, perKey: Int, nBatches: Int = 4): Seq[DataFrame] = {
    import spark.implicits._
    (0 until nBatches).map { b =>
      val base = b.toLong * 24 * H
      (0 until nKeys).flatMap { k =>
        (0 until perKey).map(i => (k.toLong, base + i * M, (k + i).toDouble))
      }.toDF("user_id", "ts", "value")
    }
  }

  test("stream-stream range join evicts state once the watermark passes") {
    import spark.implicits._
    // batch b's intervals [t, t+30m) and points land a day apart from
    // batch b+1's, so with a 1h watermark every batch's join state is
    // evictable two batches later.
    val span = 30L * M
    def iv(df: DataFrame) = df.select(col("user_id"),
      col("ts").as("begin"), (col("ts") + lit(span)).as("end"))
    def pt(df: DataFrame) = df.select(col("user_id"),
      col("ts"), col("value"))
    val batches = advancingBatches(nKeys = 4, perKey = 30)

    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => StreamRangeJoinUnder.pairs(iv(s), pt(s), span), "append", "ssj_state")

    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty, "join reported no state telemetry")
    val fedPerSide = 4 * 30
    // If getStateWatermark extraction failed (the round-6 bug), NOTHING
    // is ever evicted and final state == all rows fed on both sides
    // (4 batches × 120 × 2 = 960). With eviction working, steady state
    // holds the most recent two batches per side (480) — growth stops.
    val totalFed = batches.map(_.count()).sum * 2
    assert(rows.last < totalFed,
      s"state never evicted: ${rows.last} rows == all $totalFed fed")
    // steady state oscillates between two batches' worth (pre-cleanup)
    // and one (post-cleanup) — bounded by 2 batches/side at every point
    assert(rows.max <= 2L * 2 * fedPerSide + 8,
      s"state exceeds two batches per side — eviction broken: $rows")
  }

  test("dropDuplicatesWithinWatermark state ages out (StreamDedup)") {
    val batches = advancingBatches(nKeys = 4, perKey = 25)
      .map(_.withColumn("k", concat_ws("_", col("user_id"), col("value"))))
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamDedup(s, "ts", Seq("k"), "1 hour"),
      "append", "dedup_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    val totalKeys = 4L * 4 * 25
    assert(rows.last < totalKeys,
      s"dedup state never evicted: ${rows.last} == all $totalKeys keys")
    assert(rows.max <= 2 * 4 * 25 + 8,
      s"dedup state exceeds two batches of keys: $rows")
  }

  test("windowed rollup closes and evicts past windows (StreamRollup)") {
    import spark.implicits._
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamRollup.fixedWindow(s, "ts", Seq("user_id"),
        "5m", watermark = "1 hour",
        aggs = Seq(count(lit(1)).as("n"))),
      "append", "rollup_state")
    // 40 one-minute-spaced events per key per batch → 8 windows/key/batch,
    // of which all but the last hour's worth close and EMIT by the end.
    assert(out.count() > 0)
    assert(StreamHarness.lateDrops(ps) == 0, "exact rollup dropped late rows")
    val rows = StreamHarness.stateRows(ps)
    // steady state holds at most the last two batches' windows (48);
    // unbounded growth would be 4 batches × 3 keys × 8 windows = 96.
    assert(rows.max < 96, s"rollup windows never evicted: $rows")
    assert(rows.max <= 2 * 3 * 8 + 6,
      s"open-window state exceeds two batches' windows: $rows")
  }

  test("stateful streams keep one state store per core, half the batch width") {
    import spark.implicits._
    import graft.streaming._
    // the suite session is configured at width 4 on 4 cores: batch
    // shuffles keep 4 partitions for AQE, stateful streams (no AQE) get
    // 4 / AqeHeadroom = 2. A Spark upgrade that drops the internal key
    // falls back to the shuffle width and reads 4 here
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val batches = advancingBatches(nKeys = 3, perKey = 10, nBatches = 2)
    val streams: Seq[(String, DataFrame => DataFrame)] = Seq(
      "dedup" -> (s => StreamDedup(s, "ts", Seq("user_id", "ts"), "1 hour")),
      "rollup" -> (s => StreamRollup.fixedWindow(s, "ts", Seq("user_id"),
        "5m", watermark = "1 hour", aggs = Seq(count(lit(1)).as("n")))),
      "ewma" -> (s => StreamEwma(spark, s.as[SeriesFold.Ev], alpha = 0.3).toDF()))
    streams.foreach { case (nm, build) =>
      val (_, ps) = StreamHarness.feedBatches(spark, batches, build,
        "append", s"width_$nm")
      val widths = ps.flatMap(_.stateOperators).map(_.numShufflePartitions)
      assert(widths.nonEmpty && widths.forall(_ == 2),
        s"$nm state stores per operator: $widths")
    }
  }

  test("flatMapGroupsWithState components hold exactly one state row per key") {
    import spark.implicits._
    // The per-key NoTimeout components (Ewma, Holt, Cusum, Rate, Fill,
    // Bands, Crossings, Burst, Sessionize, Align, AsOf, HoltWinters)
    // share one state geometry: numRowsTotal == |keys|, independent of
    // row count and batch count — THAT is their documented bound.
    // Audited here across 3 batches on the Ewma representative; the
    // per-component single-batch specs assert the same bound inline.
    val batches = advancingBatches(nKeys = 5, perKey = 50)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamEwma(spark,
        s.as[graft.streaming.SeriesFold.Ev], alpha = 0.3).toDF(),
      "append", "ewma_state")
    assert(out.count() == 4L * 5 * 50)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty && rows.forall(_ <= 5),
      s"per-key state exceeded |keys|=5: $rows")
    assert(rows.last == 5)
  }

  test("EVERY per-key fMGWS component holds <= |keys| state rows across batches") {
    import spark.implicits._
    import graft.streaming._
    // The full NoTimeout per-key family, each audited individually
    // (not via one representative): numRowsTotal == |keys| is the
    // documented bound for all of them, independent of row and batch
    // count. A component that accidentally switched to per-event
    // state (e.g. buffering a batch in its Hist) blows past nKeys on
    // the very first progress.
    val nKeys = 4
    val batches = advancingBatches(nKeys, perKey = 12, nBatches = 3)
    val comps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "holt" -> (s => StreamHolt(spark, s.as[SeriesFold.Ev]).toDF()),
      "holt_winters" -> (s =>
        StreamHoltWinters(spark, s.as[SeriesFold.Ev]).toDF()),
      "bands" -> (s => StreamBands(spark, s.as[SeriesFold.Ev]).toDF()),
      "cusum" -> (s =>
        StreamCusum(spark, s.as[SeriesFold.Ev], 5.0, 20.0).toDF()),
      "crossings" -> (s =>
        StreamCrossings(spark, s.as[SeriesFold.Ev], 5.0).toDF()),
      "rate" -> (s => StreamRate(spark, s.as[SeriesFold.Ev]).toDF()),
      "fill" -> (s => StreamFill(spark, s.select(col("user_id"), col("ts"),
          when(pmod(col("value"), lit(3.0)) =!= 0.0, col("value"))
            .as("value")).as[StreamFill.Ev]).toDF()),
      "align" -> (s =>
        StreamAlign(spark, s.as[SeriesFold.Ev], "5m", "linear").toDF()),
      "sessionize" -> (s =>
        StreamSessionize(spark, s.as[SeriesFold.Ev], 30 * M).toDF()),
      "burst" -> (s => StreamBurst(spark,
        s.select("user_id", "ts").as[StreamBurst.Ev],
        lam0 = 2.5e-5, lam1 = 1.25e-4, gamma = 2.0).toDF()),
      "asof" -> (s => StreamAsOf(spark,
        s.select(col("user_id"), col("ts"), col("user_id").as("event_id"))
          .as[StreamAsOf.Lookup],
        s.select(col("user_id"), col("ts"), col("value"))
          .as[StreamAsOf.Ref]).toDF()))
    comps.foreach { case (nm, build) =>
      val (out, ps) = StreamHarness.feedBatches(spark, batches, build,
        "append", s"fmgws_$nm")
      assert(out.count() > 0, s"$nm emitted nothing")
      val rows = StreamHarness.stateRows(ps)
      assert(rows.nonEmpty && rows.forall(_ <= nKeys),
        s"$nm state exceeded |keys|=$nKeys: $rows")
    }
  }

  test("equal-ts events fold in (ts, value) order whatever their arrival order") {
    import spark.implicits._
    import graft.streaming._
    // one key, two events at the same ts on both sides of the threshold,
    // in ONE micro-batch (one file, so arrival order is the row order),
    // then a next batch whose output depends on the state left behind
    val S = 1000000L
    def batches(first: Double, second: Double) = Seq(
      Seq((1L, 10 * S, first), (1L, 10 * S, second))
        .toDF("user_id", "ts", "value").coalesce(1),
      Seq((1L, 20 * S, 3.0)).toDF("user_id", "ts", "value"))
    val comps: Seq[(String, DataFrame => DataFrame, Set[String])] = Seq(
      ("crossings", s => StreamCrossings(spark, s.as[SeriesFold.Ev], 5.0).toDF(),
        Set("[1,10000000,1.0,9.0,up]", "[1,20000000,9.0,3.0,down]")),
      ("rate", s => StreamRate(spark, s.as[SeriesFold.Ev]).toDF(),
        Set("[1,10000000,10000000,null]", "[1,10000000,20000000,-0.6]")))
    comps.foreach { case (nm, build, want) =>
      val runs = Seq((1.0, 9.0), (9.0, 1.0)).map { case (a, b) =>
        val (out, _) = StreamHarness.feedBatches(spark, batches(a, b), build,
          "append", s"tie_${nm}_${a.toInt}")
        out.collect().map(_.toString).toSet
      }
      assert(runs.head == runs.last, s"$nm depends on arrival order: $runs")
      assert(runs.head == want, s"$nm: ${runs.head}")
    }
  }

  test("coverage scorecard windows close and evict (StreamCoverage)") {
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamCoverage.scorecard(s, "ts", "user_id",
        "5m", watermark = "1 hour", cadenceUs = M),
      "append", "coverage_state")
    assert(out.count() > 0)
    assert(StreamHarness.lateDrops(ps) == 0, "exact scorecard dropped rows")
    val rows = StreamHarness.stateRows(ps)
    // state per open (key, window) is the (min, max, count) triple;
    // unbounded growth = 4 batches x 3 keys x 8 windows = 96
    assert(rows.max < 96, s"coverage windows never evicted: $rows")
    assert(rows.max <= 2 * 3 * 8 + 6,
      s"open-window state exceeds two batches' windows: $rows")
  }

  test("churn state is one row per UNDECIDED user, evicted on verdict") {
    import spark.implicits._
    val W = 10L * 1000000L
    // batch 1: 4 users each active in week b across batches that
    // advance weeks; every watermark advance fires the silence
    // timeouts of users whose successor week closed, so state holds
    // only the still-censored users — never one row per event
    val batches = (0 until 4).map { b =>
      (0 until 4).flatMap { k =>
        (0 until 10).map(i => (k.toLong, b * 50L * 1000000L + i * 1000000L))
      }.toDF("user_id", "ts")
    }
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamChurn(spark, s, epochUs = 0L, weekUs = W,
        watermark = "1 second").toDF(),
      "append", "churn_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty && rows.forall(_ <= 4),
      s"churn state exceeded |users|=4: $rows")
  }

  test("DAU chain state is (user, day) pairs in the horizon, not events") {
    // 4 users x 25 events per batch, batches a day apart: dedup state
    // holds active (user, day) pairs inside the watermark horizon
    // (~2 batches' days) + the open day windows — never per-event rows
    val batches = advancingBatches(nKeys = 4, perKey = 25)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamStickiness.daily(s, watermark = "1 hour"),
      "append", "sdau_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty && rows.forall(_ <= 2 * 4 + 6),
      s"DAU chain state exceeded the (user, day) horizon bound: $rows")
  }

  test("transitions state is one row per user regardless of volume") {
    import spark.implicits._
    // 4 users x 25 events per batch x 4 batches: the last-event triple
    // REPLACES on every event, so state never exceeds |users| even
    // though no eviction ever runs
    val batches = advancingBatches(nKeys = 4, perKey = 25).map(b =>
      b.select(col("user_id"), col("ts"), col("ts").as("event_id"),
        concat(lit("t"), pmod(col("ts"), lit(3L))).as("event_type")))
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamTransitions(spark, s,
        watermark = "1 hour").toDF(),
      "append", "trans_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty && rows.forall(_ <= 4),
      s"transitions state exceeded |users|=4: $rows")
  }

  test("funnel state is one row per OPEN funnel, evicted on verdict") {
    // view-only batches a day apart with a 10-minute span: every
    // user's funnel opens, then the next batch's watermark advance
    // fires the stage-1 deadline — state never exceeds |users| and
    // never accumulates per event
    val batches = advancingBatches(nKeys = 4, perKey = 10)
      .map(_.withColumn("event_type", lit("view")))
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamFunnel(spark, s, spanUs = 10 * M,
        watermark = "1 hour").toDF(),
      "append", "funnel_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.nonEmpty && rows.forall(_ <= 4),
      s"funnel state exceeded |users|=4: $rows")
  }

  test("sliding-window rollup closes and evicts past windows") {
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamRollup.slidingWindow(s, "ts",
        Seq("user_id"), size = "10m", slide = "5m", watermark = "1 hour",
        aggs = Seq(count(lit(1)).as("n"))),
      "append", "slide_state")
    assert(out.count() > 0)
    assert(StreamHarness.lateDrops(ps) == 0, "exact rollup dropped late rows")
    val rows = StreamHarness.stateRows(ps)
    // 40 one-minute events/key/batch overlap 9 10m/5m windows → 27
    // open rows per batch; steady state holds at most the most recent
    // two batches' windows, unbounded growth reaches 4 × 27 = 108.
    assert(rows.max <= 2 * 27 + 8,
      s"sliding windows never evicted: $rows")
  }

  test("windowed quantile sketch: exact-regime batch parity, bounded state") {
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamQuantile.windowed(s, "ts", Seq("user_id"),
        "5m", watermark = "1 hour", "value", Seq(0.5, 0.99)),
      "append", "quantile_state")
    assert(out.count() > 0)
    assert(StreamHarness.lateDrops(ps) == 0, "quantile dropped late rows")
    // every 5m window holds 5 one-minute events << accuracy, so the GK
    // sketch never compresses and streaming == batch EXACTLY, whatever
    // the batch/merge order — the documented exact regime
    val all = batches.reduce(_ unionByName _)
    val want = all
      .withColumn("__event_time", timestamp_micros(col("ts")))
      .groupBy(col("user_id"),
        window(col("__event_time"), "300 seconds").as("w"))
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.99)),
        lit(10000)).as("quantiles"))
      .withColumn("ts_begin", unix_micros(col("w.start")))
      .withColumn("ts_end", unix_micros(col("w.end")))
      .drop("w")
    // append emits only watermark-closed windows: everything emitted
    // must match the batch twin, and all but the final batch's open
    // tail must have emitted
    assert(out.exceptAll(want).isEmpty,
      "streaming emitted a row the batch twin disagrees with")
    assert(out.count() >= 3L * 3 * 8,
      s"fewer closed windows than the first 3 batches should yield: ${out.count()}")
    // state = one sketch row per open (key, window) inside the
    // watermark horizon — the most recent two batches' 24 windows
    val rows = StreamHarness.stateRows(ps)
    assert(rows.max <= 2 * 3 * 8 + 6,
      s"open sketch state exceeds two batches' windows: $rows")
  }

  test("M4 downsample windows close and evict") {
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamM4.m4(s, "ts", "value", Seq("user_id"),
        "5m", watermark = "1 hour"),
      "append", "m4_state")
    assert(out.count() > 0)
    assert(StreamHarness.lateDrops(ps) == 0, "exact M4 dropped late rows")
    val rows = StreamHarness.stateRows(ps)
    // 8 5-minute windows per key per batch (24 rows); unbounded = 96
    assert(rows.max <= 2 * 24 + 8, s"M4 windows never evicted: $rows")
  }

  test("PSI drift windows close and evict") {
    val batches = advancingBatches(nKeys = 3, perKey = 40)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamDrift.psi(s, "ts", "value",
        Seq("user_id"), "5m", watermark = "1 hour",
        refProbs = Seq(0.8, 0.2), binWidth = 25.0),
      "append", "drift_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    // same window geometry as M4: 24 open aggregate rows per batch
    assert(rows.max <= 2 * 24 + 8, s"drift windows never evicted: $rows")
  }

  test("doc-ingest dedup + window state ages out") {
    import spark.implicits._
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "with", "many", "more", "words")
    val batches = (0 until 4).map { b =>
      val base = b.toLong * 24 * H
      (0 until 12).map { i =>
        val body = (0 until 30).map(j => words((i + j) % words.size))
          .mkString(" ")
        (s"doc $b $i $body.", "web", base + i * M)
      }.toDF("text", "source", "ts")
    }
    val blob = graft.streaming.StreamDocIngest.benchSketch(
      Seq("entirely separate benchmark suite sentence").toDF("text"))
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamDocIngest(s, blob, "ts",
        minQuality = 0.0, win = "1h", watermark = "1 hour"),
      "append", "ingest_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    // state = per-doc dedup hashes + open (source, window) aggregates;
    // steady state holds the most recent two batches' worth, broken
    // eviction accumulates every batch's hashes forever.
    assert(rows.max <= 2 * rows.head + 8,
      s"ingest state grew across batches: $rows")
  }

  test("CMS grid state is bounded by open windows x grid cells, not vocabulary") {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta".split(' ')
    val batches = (0 until 4).map { b =>
      val base = b.toLong * 24 * H
      (0 until 12).map { i =>
        // vocabulary grows per batch — state must NOT
        val body = (0 until 20)
          .map(j => words((i + j) % words.length) + s"x$b").mkString(" ")
        (base + i * M, body)
      }.toDF("ts", "text")
    }
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamFreq.cmsGrid(s, "ts", "text", "1h",
        watermark = "1 hour"),
      "append", "cms_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    // each batch's events fit one 1h window; its grid holds <= d x
    // distinct-bucket cells. Steady state = the most recent two
    // batches' windows; unbounded growth accumulates all four.
    assert(rows.max <= 2 * rows.head + 8,
      s"grid state grew across batches: $rows")
  }

  test("histogram state is bounded by open windows x buckets, not values") {
    import spark.implicits._
    val batches = (0 until 4).map { b =>
      val base = b.toLong * 24 * H
      // every event value is distinct across the whole run — exact
      // per-value state would grow; the fixed bucket grid must not
      (0 until 50).map(i =>
        (base + i * M, "t", b * 1000.0 + i * 7.13)).toDF("ts", "g", "v")
    }
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamHist.histogram(s, "ts", "v", "g", "1h",
        watermark = "1 hour"),
      "append", "shist_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    assert(rows.max <= 2 * rows.head + 8,
      s"histogram state grew across batches: $rows")
  }

  test("per-window top-k map state flushes once the watermark closes the window") {
    val batches = advancingBatches(nKeys = 4, perKey = 30)
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamTopK(spark, s, winUs = 10 * M, k = 3,
        watermark = "1 hour").toDF(),
      "append", "topk_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    // the grouping key is the WINDOW: 30 one-minute events cover 3
    // ten-minute windows per batch regardless of key count; flushed
    // windows drop their whole map row, so steady state is at most
    // two batches' windows (6) and unbounded growth reaches 12.
    assert(rows.max <= 2 * 3 + 2,
      s"top-k window state never flushed: $rows")
  }

  test("StreamBurst drops cross-batch stragglers instead of folding negative gaps") {
    import spark.implicits._
    val S = 1000000L // one second in µs
    val b1 = Seq((1L, 0L), (1L, 60 * S), (1L, 120 * S)).toDF("user_id", "ts")
    // 30s arrives AFTER the stored lastTs=120s — a negative gap the
    // batch operator (whole-series order) can never produce
    val b2 = Seq((1L, 30 * S), (1L, 180 * S)).toDF("user_id", "ts")
    val (out, _) = StreamHarness.feedBatches(spark, Seq(b1, b2),
      s => graft.streaming.StreamBurst(spark,
        s.as[graft.streaming.StreamBurst.Ev],
        lam0 = 2.5e-5, lam1 = 1.25e-4, gamma = 2.0).toDF(),
      "append", "burst_straggler")
    val rows = out.collect()
    assert(rows.forall(_.getAs[Double]("gap_s") > 0.0),
      "a negative gap leaked into the Viterbi fold")
    // the straggler emits nothing; the in-order events match the
    // batch operator run on the in-order subset
    val inOrder = Seq((1L, 0L), (1L, 60 * S), (1L, 120 * S), (1L, 180 * S))
      .toDF("user_id", "ts")
    val want = graft.operators.Trend.burst(inOrder, "ts", Seq("user_id"),
      lam0 = 2.5e-5, lam1 = 1.25e-4, gamma = 2.0)
      .select($"user_id", $"ts", $"gap_s", $"burst", $"score")
    val got = out.select($"user_id", $"ts", $"gap_s", $"burst", $"score")
    assert(got.count() == 3 && want.count() == 3)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("near-dedup banded state ages out (StreamNearDedup)") {
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog again",
      "pack my box with five dozen liquor jugs right now",
      "how vexingly quick daft zebras jump over fences",
      "sphinx of black quartz judge my vow tonight")
    val batches = (0 until 4).map { b =>
      val base = b.toLong * 24 * H
      texts.zipWithIndex.map { case (t, i) =>
        (s"d${b}_$i", base + i * M, s"$t batch $b")
      }.toDF("doc_id", "ts", "text")
    }
    val (out, ps) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamNearDedup.minhash(s, "ts", "1h",
        watermark = "1 hour"),
      "append", "ndd_state")
    assert(out.count() > 0)
    val rows = StreamHarness.stateRows(ps)
    // band-key dedup rows + open window-agg rows: steady state holds
    // the most recent two batches' worth; broken eviction accumulates
    // every batch's bands forever (state ≈ rows.head × nBatches).
    assert(rows.max <= 2 * rows.head + 8,
      s"banded state grew across batches: $rows")
  }

  // --- checkpoint recovery: kill mid-stream, resume, prove ----------
  // no loss and no duplication against an uninterrupted run. These
  // target the flatMapGroupsWithState FLUSH paths (timeout-emitted
  // rows), where a recovery bug would double-emit or drop a window
  // whose flush straddles the restart.

  test("StreamTopK survives a mid-stream kill+resume without loss or " +
    "duplication") {
    val batches = advancingBatches(nKeys = 4, perKey = 30)
    val (want, _) = StreamHarness.feedBatches(spark, batches,
      s => graft.streaming.StreamTopK(spark, s, winUs = 10 * M, k = 3,
        watermark = "1 hour").toDF(),
      "append", "topk_norestart")
    val (got, _) = StreamHarness.feedBatchesWithRestart(spark, batches,
      s => graft.streaming.StreamTopK(spark, s, winUs = 10 * M, k = 3,
        watermark = "1 hour").toDF(),
      killAfter = 2, "topk_restart")
    assert(want.count() > 0, "baseline must flush at least one window")
    StreamHarness.assertSameMultiset(got, want, "topk recovery")
  }

  test("StreamChurn verdicts survive a mid-stream kill+resume") {
    import spark.implicits._
    val W = 10000000L
    val b1 = Seq((1L, 1000000L), (1L, 12000000L), (1L, 22000000L),
      (2L, 2000000L), (2L, 32000000L), (3L, 15000000L))
      .toDF("user_id", "ts")
    val b2 = Seq((99L, 200000000L)).toDF("user_id", "ts")
    val b3 = Seq((98L, 300000000L)).toDF("user_id", "ts")
    def build(s: DataFrame) = graft.streaming.StreamChurn(spark, s,
      epochUs = 0L, weekUs = W, watermark = "1 second").toDF()
    val (want, _) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      build, "append", "churn_norestart")
    // kill between the sentinel batches: u1/u2's silence verdicts are
    // pending in state when the query dies
    val (got, _) = StreamHarness.feedBatchesWithRestart(spark,
      Seq(b1, b2, b3), build, killAfter = 2, "churn_restart")
    assert(want.count() > 0)
    StreamHarness.assertSameMultiset(got, want, "churn recovery")
  }

  test("StreamFreq CMS grid survives a mid-stream kill+resume") {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta".split(' ')
    val batches = (0 until 4).map { b =>
      val base = b.toLong * 24 * H
      (0 until 12).map { i =>
        val body = (0 until 20)
          .map(j => words((i + j) % words.length) + s"x$b").mkString(" ")
        (base + i * M, body)
      }.toDF("ts", "text")
    }
    def build(s: DataFrame) = graft.streaming.StreamFreq.cmsGrid(
      s, "ts", "text", "1h", watermark = "1 hour")
    val (want, _) = StreamHarness.feedBatches(spark, batches, build,
      "append", "cms_norestart")
    val (got, _) = StreamHarness.feedBatchesWithRestart(spark, batches, build,
      killAfter = 2, "cms_restart")
    assert(want.count() > 0)
    StreamHarness.assertSameMultiset(got, want, "cms recovery")
  }

  test("dedup and rollup resume an old-width checkpoint at its recorded " +
    "width without losing state") {
    import spark.implicits._
    import graft.streaming._
    val key = "spark.sql.streaming.internal.stateStore.partitions"
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    // the width a checkpoint got before streams ran at half the batch
    // width: the state-store count copied from the shuffle partitions
    val old = GraftSession.withConfs(spark, key -> width)
    // 3 users, one event a minute, batch b at minutes [22b, 22b + 22):
    // 5-minute windows straddle each batch boundary, so the window open
    // at the kill holds partial aggregates in state; from batch 1 on,
    // each batch re-delivers the previous batch's last 5 minutes, so the
    // kept keys must still be in dedup state after the restart. The
    // last batch adds a far-future sentinel user whose watermark closes
    // every other window. Day 1 on: an event at epoch 0 is as old as the
    // first trigger's watermark and is dropped as late
    def ev(u: Int, min: Int) = (u.toLong, 24 * H + min * M, (u * 100 + min).toDouble)
    val rows = (0 until 4).map { b =>
      val fresh = for (i <- 0 until 22; u <- 1 to 3) yield ev(u, 22 * b + i)
      val again = if (b == 0) Seq.empty
        else for (i <- 17 until 22; u <- 1 to 3) yield ev(u, 22 * (b - 1) + i)
      val sentinel = if (b == 3) Seq((99L, 10 * 24 * H, 0.0)) else Seq.empty
      fresh ++ again ++ sentinel
    }
    val batches = rows.map(_.toDF("user_id", "ts", "value"))
    val all = rows.flatten.toDF("user_id", "ts", "value")
    def rollup(s: DataFrame) = StreamRollup.fixedWindow(s, "ts", Seq("user_id"),
      "5m", watermark = "1 hour", aggs = Seq(count(lit(1)).as("n"), sum("value").as("v")))
    // the batch twins: every row at once, one copy per event (a copy
    // repeats the whole row, so `distinct`); every window but the
    // sentinel's, still open when the stream stops
    val cases: Seq[(String, DataFrame => DataFrame, DataFrame)] = Seq(
      ("dedup", s => StreamDedup(s, "ts", Seq("user_id", "ts"), "1 hour"),
        all.distinct()),
      ("rollup", rollup, rollup(all).filter($"user_id" =!= 99L)))
    cases.foreach { case (nm, build, twin) =>
      val (got, ps) = StreamHarness.feedBatchesWithRestart(spark, batches,
        build, killAfter = 2, s"width_restart_$nm", firstRun = Some(old))
      val widths = ps.flatMap(_.stateOperators).map(_.numShufflePartitions)
      assert(widths.nonEmpty && widths.forall(_ == width.toLong),
        s"$nm resumed at $widths state stores, recorded $width")
      StreamHarness.assertSameMultiset(got, twin, s"$nm resume")
    }
  }
}

/** Local seam so the range-join state test reads clearly. */
private object StreamRangeJoinUnder {
  def pairs(iv: DataFrame, pt: DataFrame, span: Long): DataFrame =
    graft.streaming.StreamRangeJoin.pairs(iv, pt, Seq("user_id"),
      "begin", "end", "ts", span, watermark = "1 hour")
}
