package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{SeriesFold, StreamSessionize}
import graft.operators.Sessionize

class StreamRateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming rate equals batch Rate exactly (state spans batches)") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_rate").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamRate(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("rate_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("rate_test")
      .select($"user_id", $"ts_begin", $"ts_end",
        round($"value_rate", 6).as("r"))
    val want = graft.operators.Rate(batch, "ts", Seq("value"), Seq("user_id"))
      .select($"user_id", $"ts_begin", $"ts_end",
        round($"value_rate", 6).as("r"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamAlignSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming align equals batch Align bit-for-bit") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .where($"event_type" === "click")
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_salign").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamAlign(spark, stream, "1d", "linear")
      .writeStream.outputMode("append").format("memory")
      .queryName("salign_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("salign_test").select($"user_id", $"ts", $"value")
    val want = graft.operators.Align(batch, "ts", Seq("value"),
      Seq("user_id"), "1d", "linear").select($"user_id", $"ts", $"value")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamAsOfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming as-of lookup equals batch Combine.asof exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
    val lookups = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val refs = ev.where($"event_type" === "click")
      .select($"user_id", $"ts", $"value")

    val dirL = Files.createTempDirectory("graft_asof_l").toString
    val dirR = Files.createTempDirectory("graft_asof_r").toString
    lookups.write.mode("overwrite").parquet(dirL)
    refs.write.mode("overwrite").parquet(dirR)
    val sl = spark.readStream.schema(lookups.schema).parquet(dirL)
      .as[graft.streaming.StreamAsOf.Lookup]
    val sr = spark.readStream.schema(refs.schema).parquet(dirR)
      .as[graft.streaming.StreamAsOf.Ref]

    val q = graft.streaming.StreamAsOf(spark, sl, sr)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("asof_test")
      .select($"user_id", $"ts", $"event_id", $"asof_value")
    val want = graft.operators.Combine.asof(lookups, refs, Seq("user_id"),
      "ts", Seq("event_id"), Seq("value"))
      .select($"user_id", $"ts", $"event_id", $"asof_value")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming as-of with tolerance equals batch asofTolerance") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
    val lookups = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val refs = ev.where($"event_type" === "click")
      .select($"user_id", $"ts", $"value")
    val tol = 3600L * 1000000L

    val dirL = Files.createTempDirectory("graft_asoft_l").toString
    val dirR = Files.createTempDirectory("graft_asoft_r").toString
    lookups.write.mode("overwrite").parquet(dirL)
    refs.write.mode("overwrite").parquet(dirR)
    val sl = spark.readStream.schema(lookups.schema).parquet(dirL)
      .as[graft.streaming.StreamAsOf.Lookup]
    val sr = spark.readStream.schema(refs.schema).parquet(dirR)
      .as[graft.streaming.StreamAsOf.Ref]

    val q = graft.streaming.StreamAsOf(spark, sl, sr, toleranceUs = tol)
      .writeStream.outputMode("append").format("memory")
      .queryName("asoft_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("asoft_test")
      .select($"user_id", $"ts", $"event_id", $"asof_value")
    val want = graft.operators.Combine.asofTolerance(lookups, refs,
      Seq("user_id"), "ts", Seq("event_id"), Seq("value"), tol)
      .select($"user_id", $"ts", $"event_id", $"asof_value")
    assert(got.count() == want.count() && got.count() > 0)
    // the tolerance must actually bite on this data: some matches
    // survive, some are rejected as stale
    assert(want.where($"asof_value".isNotNull).count() > 0)
    assert(want.where($"asof_value".isNull).count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming dedup keeps exactly the batch-distinct key set") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"event_type", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sdedup").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val q = graft.streaming.StreamDedup(stream, "ts",
      Seq("user_id", "event_type"), delay = "365 days")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sdedup_test")

    // one surviving row per distinct key; which row wins is
    // arrival-order-dependent, so compare the key sets
    assert(got.count() == batch.select("user_id", "event_type").distinct().count())
    assert(got.select("user_id", "event_type").distinct().count() == got.count())
  }
}

class StreamSessionizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming sessionize emits every CLOSED session = batch minus open") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val gapUs = 30L * 60L * 1000000L
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sess").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[SeriesFold.Ev]

    val q = StreamSessionize(spark, stream, gapUs)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sessions_test")

    val want = Sessionize(batch, "ts", Seq("user_id"), gapUs,
      Seq(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"), sum($"value").as("sum_value")))

    // every session except each user's LAST (still open in state store)
    val wantClosed = want.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"session_start".desc)))
      .where($"rn" > 1)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
    val gotKeys = got.select($"user_id", $"session_start", $"session_end", $"n_events")
    assert(gotKeys.count() == wantClosed.count())
    assert(gotKeys.exceptAll(wantClosed).isEmpty)
  }
}
