package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ts.TimeSeries

class ApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("atTime = latest event <= t per series; atFirst; sameAs") {
    import spark.implicits._
    val t = TimeSeries(Seq((1L, 100L, 1.0), (1L, 200L, 2.0), (1L, 300L, 3.0),
      (2L, 250L, 9.0)).toDF("k", "ts", "v"), "ts", Seq("k"))
    val at = t.atTime(220L).orderBy("k").collect()
    assert(at.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 200L)))
    assert(t.atFirst().orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(100L, 250L))
    assert(t.sameAs(t.copy(df = t.df.orderBy(rand()))))
    assert(!t.sameAs(t.copy(df = t.df.limit(2))))
  }

  test("atKey returns ALL events at the exact ts; eventListAsMap groups them") {
    import spark.implicits._
    val t = TimeSeries(Seq((1L, 100L, 1.0), (1L, 100L, 2.5), (1L, 200L, 3.0),
      (2L, 100L, 9.0)).toDF("k", "ts", "v"), "ts", Seq("k"))
    // collection.py:238 at_key: every event at the key, not the latest
    val at = t.atKey(100L).orderBy("k", "v").collect()
    assert(at.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((1L, 1.0), (1L, 2.5), (2L, 9.0)))
    // frame-of-keys form broadcasts against the scan
    val many = t.atKeyOf(Seq(100L, 200L).toDF("key")).collect()
    assert(many.length == 4)
    // collection.py:414 event_list_as_map: values grouped by exact ts
    val m = t.eventListAsMap("v").orderBy("k", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(m.toSeq == Seq((1L, 100L, Seq(1.0, 2.5)), (1L, 200L, Seq(3.0)),
      (2L, 100L, Seq(9.0))))
  }

  test("customReducer: a user-defined L4-norm aggregator over a field path") {
    import spark.implicits._
    // Collection.aggregate(func) equivalent (collection.py:706): the
    // L4 norm has no named Aggs reducer; buffer = (sum x^4, n)
    val l4 = graft.functions.Aggs.customReducer[(Double, Long)]((0.0, 0L),
      (b, x) => (b._1 + x * x * x * x, b._2 + 1),
      (a, b) => (a._1 + b._1, a._2 + b._2),
      b => math.pow(b._1 / b._2, 0.25))
    // field path: values nested one struct deep, like pypond's
    // deep field specs ("direction.in")
    val df = Seq((1L, 1.0), (1L, 2.0), (1L, 3.0), (2L, 5.0))
      .toDF("k", "v0").select(col("k"), struct(col("v0").as("in")).as("m"))
    val got = df.groupBy("k").agg(l4(col("m.in")).as("l4"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - math.pow((1.0 + 16.0 + 81.0) / 3, 0.25)) < 1e-12)
    assert(math.abs(got(2L) - 5.0) < 1e-12)
    // the same builder reuses across frames/columns (it is a plain
    // Column function, like every named reducer)
    val flat = Seq((1L, 4.0), (1L, 4.0)).toDF("k", "v")
    val g2 = flat.groupBy("k").agg(l4(col("v"))).collect()
    assert(math.abs(g2.head.getDouble(1) - 4.0) < 1e-12)
  }

  test("readCsv round-trips a timeseries") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv").toString
    Seq(("2024-01-01 00:00:00", 1L, 5.5), ("2024-01-01 01:00:00", 1L, 6.5))
      .toDF("ts", "k", "v").write.mode("overwrite")
      .option("header", "true").csv(dir)
    val t = TimeSeries.readCsv(spark, dir, "ts", Seq("k"))
    val rows = t.df.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("ts") == 1704067200000000L) // epoch µs UTC
    assert(rows(1).getAs[Double]("v") == 6.5)
  }

  test("readParquetNanos needs nanos-as-long reads and never sets the conf") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pq").toString
    Seq((1L, 1000L, 5.5)).toDF("k", "ts", "v").write.mode("overwrite").parquet(dir)
    val t = TimeSeries.readParquetNanos(spark, dir, "ts", Seq("k"))
    assert(t.df.collect().map(_.getAs[Long]("ts")).toSeq == Seq(1L)) // ns -> µs
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalArgumentException](
      TimeSeries.readParquetNanos(other, dir, "ts"))
    assert(e.getMessage.contains("GraftSession.configure"))
    assert(other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }

  test("GraftExtensions injection path runs; registered SQL names work") {
    // a shared-JVM test can't build a second SparkContext, so exercise
    // the extension object directly + the runtime registration path
    new org.apache.spark.sql.graft.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
    org.apache.spark.sql.graft.GraftExpressions.register(spark)
    val r = spark.sql(
      "SELECT simhash24(array('a','b')) AS s, " +
        "vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head()
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(0) >= 0L)
  }
}
