package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Trend

class TrendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def us(sec: Long): Long = sec * 1000000L

  test("ewma of a constant series is the constant; single point is itself") {
    import spark.implicits._
    val df = Seq(
      (1L, us(0), 5.0), (1L, us(10), 5.0), (1L, us(20), 5.0),
      (2L, us(0), 9.25)).toDF("k", "ts", "v")
    val got = Trend.ewma(df, "ts", "v", Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == Set((1L, us(0), 5.0), (1L, us(10), 5.0), (1L, us(20), 5.0),
      (2L, us(0), 9.25)))
  }

  test("ewma recursion: s := 0.7*s + 0.3*x seeded with the first value") {
    import spark.implicits._
    val df = Seq((1L, us(0), 10.0), (1L, us(10), 20.0), (1L, us(20), 30.0))
      .toDF("k", "ts", "v")
    val got = Trend.ewma(df, "ts", "v", Seq("k")).orderBy("ts")
      .select("ewma").as[Double].collect()
    val s1 = 10.0
    val s2 = s1 * 0.7 + 20.0 * 0.3
    val s3 = s2 * 0.7 + 30.0 * 0.3
    // µ-unit floor: the operator's tie-free output contract
    def f6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got.toSeq == Seq(f6(s1), f6(s2), f6(s3)))
  }

  test("ewma window bound: only the trailing `span` rows contribute") {
    import spark.implicits._
    // 25 points: first 5 are a huge outlier, span=3 forgets them entirely
    val rows = (0 until 5).map(i => (1L, us(i * 10L), 1e9)) ++
      (5 until 25).map(i => (1L, us(i * 10L), 2.0))
    val got = Trend.ewma(rows.toDF("k", "ts", "v"), "ts", "v", Seq("k"),
      span = 3).orderBy($"ts".desc).select("ewma").as[Double].first()
    assert(got == 2.0)
  }

  test("rollingTime counts the trailing span by TIME, peers included") {
    import spark.implicits._
    // span = 100s: at t=150 the frame is [50,150] -> rows at 60,150,150;
    // equal-ts rows are frame PEERS so both 150s see the same frame
    val df = Seq((1L, us(0), 10.0), (1L, us(60), 20.0),
      (1L, us(150), 30.0), (1L, us(150), 40.0), (1L, us(500), 50.0))
      .toDF("k", "ts", "v")
    val got = Trend.rollingTime(df, "ts", "v", Seq("k"), us(100))
      .select("ts", "n_span", "avg_span").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((us(0), 1L, 10.0), (us(60), 2L, 15.0),
      (us(150), 3L, 30.0), (us(500), 1L, 50.0)))
  }

  test("autocorr is 1 for a perfectly linear series, per key") {
    import spark.implicits._
    val df = ((0 until 10).map(i => (1L, us(i * 10L), 2.0 * i)) ++
      (0 until 4).map(i => (2L, us(i * 10L), 5.0 - i))).toDF("k", "ts", "v")
    val got = Trend.autocorr(df, "ts", "v", Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // x_t = a + b*t (b != 0) has lag-1 sample correlation exactly 1
    assert(got == Set((1L, 9L, 1.0), (2L, 3L, 1.0)))
  }

  test("gaps finds exactly the deltas above threshold") {
    import spark.implicits._
    val df = Seq((1L, us(0)), (1L, us(50)), (1L, us(400)), (1L, us(420)),
      (2L, us(0)), (2L, us(1000))).toDF("k", "ts")
    val got = Trend.gaps(df, "ts", Seq("k"), us(100)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, us(50), us(400), us(350)),
      (2L, us(0), us(1000), us(1000))))
  }

  test("integral of a constant series over one window = value * duration") {
    import spark.implicits._
    // 7.0 held for 600s inside one 1h bucket -> area 4200, 2 segments
    val df = Seq((1L, 0L, 7.0), (1L, us(300), 7.0), (1L, us(600), 7.0))
      .toDF("k", "ts", "v")
    val r = Trend.integral(df, "ts", "v", Seq("k"), "1h").collect()
    assert(r.length == 1)
    assert(r.head.getString(1) == "1h-0")
    assert(r.head.getDouble(2) == 4200.0)
    assert(r.head.getLong(3) == 2L)
  }

  test("integral attributes each segment to its LEFT endpoint's window") {
    import spark.implicits._
    val hour = us(3600)
    // segment straddling the hour boundary lands in the first bucket
    val df = Seq((1L, hour - us(10), 1.0), (1L, hour + us(10), 1.0))
      .toDF("k", "ts", "v")
    val r = Trend.integral(df, "ts", "v", Seq("k"), "1h").collect()
    assert(r.length == 1 && r.head.getString(1) == "1h-0")
    assert(r.head.getDouble(2) == 20.0)
  }

  test("lttb keeps first/last endpoints and the max-area interior point") {
    import spark.implicits._
    // three 1m buckets: [0,60)s has (5,10.0),(50,99.0); [60,120)s has
    // three candidates; [120,180)s has (130,7.0),(140,8.0)
    val df = Seq(
      (1L, us(5), 10.0), (1L, us(50), 99.0),
      (1L, us(70), 1.0), (1L, us(80), -5.0), (1L, us(90), 2.0),
      (1L, us(130), 7.0), (1L, us(140), 8.0)).toDF("k", "ts", "v")
    val got = Trend.lttb(df, "ts", "v", Seq("k"), "1m").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // first bucket -> earliest point; last bucket -> latest point.
    // middle bucket: anchors are the neighbor bucket means, both ~y=54.5
    // and 7.5 — the point maximizing the triangle area is the -5.0
    // outlier (largest vertical distance from the anchor chord)
    assert(got == Set((0L, us(5), 10.0), (1L, us(80), -5.0),
      (2L, us(140), 8.0)))
  }

  test("lttb emits exactly one point per non-empty (key, bucket)") {
    import spark.implicits._
    val rows = for (k <- 1L to 3L; i <- 0 until 50)
      yield (k, us(i * 7L), math.sin(i * 0.3) * k)
    val got = Trend.lttb(rows.toDF("k", "ts", "v"), "ts", "v", Seq("k"), "1m")
    val buckets = rows.map(r => (r._1, r._2 / us(60))).distinct.size
    assert(got.count() == buckets)
    // idempotent re-plan: deterministic under re-execution
    assert(got.collect().toSet ==
      Trend.lttb(rows.toDF("k", "ts", "v"), "ts", "v", Seq("k"), "1m")
        .collect().toSet)
  }

  test("m4 keeps first/last/min/max anchors with deterministic ties") {
    import spark.implicits._
    // one 1m bucket; value 1.0 appears at t=10 and t=20 (min tie ->
    // earliest), 9.0 at t=30 and t=40 (max tie -> latest); equal-ts
    // edge rows at t=0 (first tie -> lowest value)
    val df = Seq((1L, us(0), 5.0), (1L, us(0), 3.0), (1L, us(10), 1.0),
      (1L, us(20), 1.0), (1L, us(30), 9.0), (1L, us(40), 9.0))
      .toDF("k", "ts", "v")
    val r = Trend.m4(df, "ts", "v", Seq("k"), "1m").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(2) == 6L)                                // n
    assert(row.getLong(3) == us(0) && row.getDouble(4) == 3.0)  // first
    assert(row.getLong(5) == us(40) && row.getDouble(6) == 9.0) // last
    assert(row.getDouble(7) == 1.0 && row.getLong(8) == us(10)) // min
    assert(row.getDouble(9) == 9.0 && row.getLong(10) == us(40)) // max
  }

  test("holt: level and trend follow the double-smoothing recursion") {
    import spark.implicits._
    val df = Seq((1L, us(0), 10.0), (1L, us(10), 20.0),
      (1L, us(20), 15.0), (1L, us(30), 30.0)).toDF("k", "ts", "v")
    val got = Trend.holt(df, "ts", "v", Seq("k"), alpha = 0.3, beta = 0.2)
      .orderBy("ts").select("level", "trend").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    var (l, b) = (10.0, 0.0)
    var want = Vector((l, b))
    Seq(20.0, 15.0, 30.0).foreach { x =>
      val ln = x * 0.3 + (l + b) * 0.7
      b = (ln - l) * 0.2 + b * 0.8; l = ln
      want :+= ((l, b))
    }
    def f6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got.toSeq == want.map(p => (f6(p._1), f6(p._2))))
  }

  test("holt skips nulls and keeps state (ignore_missing)") {
    import spark.implicits._
    val df = Seq((1L, us(0), Some(10.0)), (1L, us(10), None),
      (1L, us(20), Some(20.0))).toDF("k", "ts", "v")
    val got = Trend.holt(df, "ts", "v", Seq("k")).orderBy("ts")
      .select("level").collect()
    assert(got(0).getDouble(0) == 10.0)
    assert(got(1).getDouble(0) == 10.0) // null row: state unchanged
    assert(got(2).getDouble(0) == math.floor((20.0 * 0.3 + 10.0 * 0.7) * 1e6) / 1e6)
  }

  test("theilSen shrugs off the outlier day that drags OLS; 1-bucket keys drop") {
    import spark.implicits._
    // v = 2*d exactly, except day 5 spikes to 1000: 36 of 45 pairwise
    // slopes are exactly 2.0, so the median is untouched by the spike
    val rows = (0 until 10).map(d =>
      (1L, us(10L * d), if (d == 5) 1000.0 else 2.0 * d)) :+
      (2L, us(0), 7.0) // single populated bucket: no pairs, dropped
    val r = Trend.theilSen(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), us(10), 0L).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("k") == 1L)
    assert(row.getAs[Long]("n_days") == 10)
    assert(row.getAs[Long]("n_pairs") == 45)
    assert(row.getAs[Double]("slope_per_day") == 2.0)
    assert(row.getAs[Double]("intercept") == 0.0)
  }

  test("burst: steady gaps stay base-state, a rate spike flips to burst") {
    import spark.implicits._
    // 10 gaps of 100000s (base rate 1/40000 wins), then 10 gaps of
    // 2000s (burst rate 1/8000 wins by ~1.4 nats per gap; the gamma=2
    // up-penalty delays the flip by ~2 gaps)
    val gaps = Seq.fill(10)(100000L) ++ Seq.fill(10)(2000L)
    val ts = gaps.scanLeft(0L)(_ + _ * 1000000L)
    val df = ts.map(t => (1L, t)).toDF("k", "ts")
    val out = Trend.burst(df, "ts", Seq("k"), 2.5e-5, 1.25e-4, 2.0)
      .orderBy("ts").collect()
    assert(out.length == 20) // the first event has no gap
    val flags = out.map(_.getAs[Boolean]("burst")).toSeq
    assert(!flags.take(10).exists(identity)) // steady regime: never burst
    assert(flags.last)                       // spike regime: burst on
    assert(flags.drop(12).forall(identity))  // and it latches promptly
    // score is positive exactly when burst
    assert(out.forall(r => (r.getAs[Double]("score") > 0) ==
      r.getAs[Boolean]("burst")))
  }

  test("psiDrift: identical halves score 0, a full bin shift scores large") {
    import spark.implicits._
    // key y: same values both periods -> pa == pb in every bin -> 0.
    // key x: bin 0 (v=1) before the split, bin 1 (v=30) after -> the
    // textbook ">0.25 = shifted" regime by an order of magnitude
    val rows =
      (0 until 4).map(i => ("x", us(i), 1.0)) ++
      (0 until 4).map(i => ("x", us(100 + i), 30.0)) ++
      (0 until 4).flatMap(i => Seq(("y", us(i), 1.0), ("y", us(100 + i), 1.0)))
    val got = Trend.psiDrift(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), splitUs = us(50), binWidth = 25.0, nBins = 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("y") == ((4L, 4L, 0.0)))
    val (na, nb, psi) = got("x")
    assert(na == 4L && nb == 4L)
    // (2*4.5/14 - 2*0.5/14) * ln(9) twice over = ~1.2556
    assert(psi > 1.2 && psi < 1.3)
  }

  test("chi2Drift: stable mix scores 0, a category flip scores 20") {
    import spark.implicits._
    val rows =
      // x: all 'a' before, all 'b' after -> e=5 per cell, chi2 = 4*5
      (0 until 10).map(i => ("x", us(i), "a")) ++
      (0 until 10).map(i => ("x", us(100 + i), "b")) ++
      // y: 50/50 both halves -> observed == expected everywhere
      (0 until 5).flatMap(i => Seq(("y", us(i), "a"), ("y", us(i), "b"),
        ("y", us(100 + i), "a"), ("y", us(100 + i), "b")))
    val got = Trend.chi2Drift(rows.toDF("k", "ts", "c"), "ts", "c",
      Seq("k"), splitUs = us(50)).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4),
        r.getBoolean(6)))).toMap
    assert(got("x") == ((1L, 20.0, true)))
    assert(got("y") == ((1L, 0.0, false)))
  }

  test("chi2Drift: crit follows the exact table to dof 10, Wilson-Hilferty past it") {
    import spark.implicits._
    // 7 categories stable across the split -> dof 6; the old >=5 cap
    // would report 11.07 and over-fire on any chi2 in (11.07, 12.592]
    def mix(key: String, cats: Int) = (0 until cats).flatMap(c =>
      Seq((key, us(c), s"c$c"), (key, us(100 + c), s"c$c")))
    val rows = mix("six", 7) ++ mix("tail", 13)
    val got = Trend.chi2Drift(rows.toDF("k", "ts", "c"), "ts", "c",
      Seq("k"), splitUs = us(50)).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(5)))).toMap
    assert(got("six") == ((6L, 12.592)))
    // dof 12: Wilson-Hilferty cube = 21.013 (exact table: 21.026)
    assert(got("tail") == ((12L, 21.013)))
  }

  test("psiDrift counts bins empty in both periods when n_a != n_b") {
    import spark.implicits._
    // 8 A-events in bin 0, 2 B-events in bin 1: under add-1/2
    // smoothing the 18 bins empty in BOTH periods each still carry
    // (pa0-pb0)*ln(pa0/pb0) = 5631 micro-nats because n_a != n_b;
    // dropping them (the old behavior) read 1.409082
    val rows = (0 until 8).map(i => ("k", us(i), 10.0)) ++
      (0 until 2).map(i => ("k", us(100 + i), 30.0))
    val got = Trend.psiDrift(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), splitUs = us(50), binWidth = 25.0, nBins = 20)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((8L, 2L, 1.51044)))
  }

  test("ksDrift: identical samples score 0; disjoint supports score 1") {
    import spark.implicits._
    val rows =
      (1 to 5).flatMap(v => Seq(("a", us(0), v.toDouble),
        ("a", us(100), v.toDouble))) ++
      // n=10 a side: crit = 1.358*sqrt(20/100) ~ 0.607 < D = 1 ->
      // the separation IS significant (n=3 would not be: crit ~ 1.109)
      (1 to 10).map(v => ("b", us(0), v.toDouble)) ++
      (1 to 10).map(v => ("b", us(100), 100.0 + v))
    val got = Trend.ksDrift(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), splitUs = us(50)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(5)))).toMap
    assert(got("a") == ((5L, 5L, 0.0, false)))
    assert(got("b") == ((10L, 10L, 1.0, true)))
  }

  test("cusum: prefix-minus-running-min equals the recursive max fold") {
    import spark.implicits._
    // target 10, h 5: S = (0) 3, 7, 0 (dip drains), 8 -> alarms at 7 and 8
    val df = Seq((1L, us(0), 13.0), (1L, us(10), 14.0),
      (1L, us(20), 2.0), (1L, us(30), 18.0)).toDF("k", "ts", "v")
    val got = Trend.cusum(df, "ts", "v", Seq("k"), target = 10.0, h = 5.0)
      .orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((us(10), 7.0), (us(30), 8.0)))
  }

  test("cusum never alarms while the series stays at/below target") {
    import spark.implicits._
    val df = Seq((1L, us(0), 10.0), (1L, us(10), 9.0), (1L, us(20), 10.0))
      .toDF("k", "ts", "v")
    assert(Trend.cusum(df, "ts", "v", Seq("k"), 10.0, 0.5).count() == 0)
  }

  private val UsDayT = 86400L * 1000000L

  test("changepoint localizes a planted level shift exactly") {
    import spark.implicits._
    // key 1: 10 days at 1.0 then 10 days at 5.0 -> split after day 9;
    // key 2: a single day has no interior split and emits nothing
    val rows = (0 until 10).map(d => (1L, d * UsDayT, 1.0)) ++
      (10 until 20).map(d => (1L, d * UsDayT, 5.0)) :+ ((2L, 0L, 7.0))
    val got = Trend.changepoint(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), UsDayT, 0L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 20L && r.getLong(2) == 9L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 5.0)
    // gain = n_l*n_r/n * (mean diff)^2 = 10*10/20 * 16 = 80
    assert(r.getDouble(5) == 80.0)
  }

  test("changepoint argmax prefers the earlier day on a gain tie") {
    import spark.implicits._
    // two-step series: the max gain is unique at the true split
    // (day 1); a constant series ties every split at gain 0 and must
    // pick the FIRST day
    val rows = Seq((1L, 0L, 0.0), (1L, UsDayT, 0.0),
      (1L, 2 * UsDayT, 4.0), (1L, 3 * UsDayT, 4.0),
      (2L, 0L, 3.0), (2L, UsDayT, 3.0), (2L, 2 * UsDayT, 3.0))
    val got = Trend.changepoint(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), UsDayT, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(5))).toSet
    assert(got == Set((1L, 1L, 16.0), (2L, 0L, 0.0)))
  }

  test("acf of a strictly alternating series flips sign by lag parity") {
    import spark.implicits._
    // v_t = (-1)^t: prev at odd lags = -v (corr -1), even lags = +v (+1)
    val rows = (0 until 20).map(t => (1L, t * UsDayT, if (t % 2 == 0) 1.0 else -1.0))
    val got = Trend.acf(rows.toDF("k", "ts", "v"), "ts", "v", Seq("k"),
      maxLag = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((1, 19L, -1.0), (2, 18L, 1.0), (3, 17L, -1.0)))
  }

  test("stl decomposes a pure weekly pattern: flat trend, zero resid") {
    import spark.implicits._
    // v(d) = 10 + (d mod 7), 21 days: every interior centered-MA(7)
    // covers each weekday once -> trend = 13, seasonal = dow - 3,
    // resid = 0; the 3 edge days each side have null trend/resid
    val rows = (0 until 21).map(d => (1L, d * UsDayT, 10.0 + (d % 7)))
    val got = Trend.stlDecompose(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), UsDayT, 0L).orderBy("day").collect()
    assert(got.length == 21)
    got.foreach { r =>
      val d = r.getLong(1)
      assert(r.getDouble(2) == 10.0 + (d % 7)) // value
      assert(r.getDouble(4) == (d % 7) - 3.0)  // seasonal (all rows)
      if (d >= 3 && d <= 17) {
        assert(r.getDouble(3) == 13.0 && r.getDouble(5) == 0.0)
      } else {
        assert(r.isNullAt(3) && r.isNullAt(5))
      }
    }
  }

  test("stl identity: value = trend + seasonal + resid wherever defined") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
    val dec = Trend.stlDecompose(ev, "ts", "value", Seq("user_id"),
      UsDayT, 0L)
    // the identity is exact on the µ-INTEGERS (each output is its own
    // µ-int / 1e6, so comparing the doubles directly would be off by
    // ulps); round-trip back to µ-ints and assert exact equality
    def u6(c: org.apache.spark.sql.Column) =
      round(c * lit(1e6)).cast("long")
    val broken = dec.where(col("trend").isNotNull &&
      u6(col("value")) =!= u6(col("trend")) + u6(col("seasonal")) +
        u6(col("resid")))
    assert(broken.count() == 0 && dec.count() > 0)
  }

  test("sax maps a planted low/high split to the outer symbols") {
    import spark.implicits._
    // 14 days at 10 then 14 at 20: mean 15, sigma 5 -> weekly PAA z of
    // -1/+1 lands in the outer quartiles; a constant key pins 'c'
    val rows = (0 until 14).map(d => (1L, d * UsDayT, 10.0)) ++
      (14 until 28).map(d => (1L, d * UsDayT, 20.0)) ++
      (0 until 14).map(d => (2L, d * UsDayT, 4.25))
    val got = Trend.sax(rows.toDF("k", "ts", "v"), "ts", "v",
      Seq("k"), UsDayT, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getString(5))).toSet
    assert(got == Set(
      (1L, 0L, 10.0, -1.0, "a"), (1L, 1L, 10.0, -1.0, "a"),
      (1L, 2L, 20.0, 1.0, "d"), (1L, 3L, 20.0, 1.0, "d"),
      (2L, 0L, 4.25, 0.0, "c"), (2L, 1L, 4.25, 0.0, "c")))
  }

  test("stlStrength ranks a seasonal series high, a constant one null") {
    import spark.implicits._
    val day = 86400000000L
    // key 1: clean period-7 sawtooth (seasonal variance dominates the
    // residual); key 2: constant (all variances zero -> nulls, not 0/0)
    val rows = (0 until 28).flatMap { d =>
      Seq((1L, d * day, 10.0 + (d % 7) * 5.0), (2L, d * day, 10.0))
    }
    val got = Trend.stlStrength(rows.toDF("user_id", "ts", "value"),
      "ts", "value", Seq("user_id"), day, 0L).collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)), Option(r.get(3)))).toMap
    val fs1 = got(1L)._1.get.asInstanceOf[Double]
    assert(fs1 > 0.9, s"seasonal strength $fs1")
    assert(got(2L) == ((None, None)))
  }

  test("benford digit extraction and chi2 match a reference fold") {
    import spark.implicits._
    // digits from the µ-int string: 1.0 -> 1, 0.25 -> 2, 19.99 -> 1,
    // 0.0000009 (< 1µ) excluded
    val rows = Seq((1.0, "a"), (1.5, "a"), (2.0, "a"), (0.25, "a"),
      (19.99, "a"), (0.0000009, "a")) ++
      (1 to 9).map(d => (d.toDouble, "u"))
    val df = rows.toDF("value", "event_type")
    val got = Trend.benford(df, "value", Seq("event_type")).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(4), r.getBoolean(5))).toMap

    val probs = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    def ref(obs: Map[Int, Long]): (Long, Double) = {
      val n = obs.values.sum
      val s6 = (1 to 9).map { d =>
        val o = obs.getOrElse(d, 0L)
        val p = probs(d - 1)
        math.floor((o - n * p) * (o - n * p) / (n * p) * 1e6).toLong
      }.sum
      (n, s6 / 1e6)
    }
    val (na, chiA) = ref(Map(1 -> 3L, 2 -> 2L)) // 1.0,1.5,19.99; 2.0,0.25
    assert(na == 5)
    (1 to 9).foreach { d =>
      val (o, chi, _) = got(("a", d))
      assert(o == Map(1 -> 3L, 2 -> 2L).getOrElse(d, 0L))
      assert(chi == chiA)
    }
    val (_, chiU) = ref((1 to 9).map(_ -> 1L).toMap)
    assert(got(("u", 1))._2 == chiU)
    // 9 uniform values are too few for the test to reject; the
    // concentrated group a is flagged
    assert(got(("u", 1))._3)
    assert(!got(("a", 1))._3 || chiA <= 15.507313)
  }

  test("runsAbove finds the planted islands and the longest-run extent") {
    import spark.implicits._
    // above-60 runs for k=1: rows 0-1 (len 2) and rows 3-5 (len 3)
    val vals = Seq(70.0, 80.0, 10.0, 90.0, 95.0, 96.0, 20.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, us(i * 10L), v) }
      .toDF("k", "ts", "v")
    val r = Trend.runsAbove(df, "ts", "v", Seq("k"), 60.0).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 2L)       // n_runs
    assert(r.head.getLong(2) == 3L)       // max_len
    assert(r.head.getLong(3) == us(30))   // longest_start
    assert(r.head.getLong(4) == us(20))   // longest_dur
    // a key with nothing above the threshold emits no row
    val low = Seq((2L, us(0), 1.0)).toDF("k", "ts", "v")
    assert(Trend.runsAbove(low, "ts", "v", Seq("k"), 60.0).isEmpty)
  }

  test("hampel flags and repairs only the planted spike") {
    import spark.implicits._
    // a 10/10.5/11 plateau with one 500.0 spike at i=9: every window's
    // median stays on the plateau, so only the spike crosses the
    // 3·1.4826·MAD fence; neighbors of the spike must NOT be dragged
    // in (the failure mode of a mean/σ screen)
    val rows = (0 until 20).map(i =>
      (1L, us(i * 10L), if (i == 9) 500.0 else 10.0 + (i % 3) * 0.5))
    val got = Trend.hampel(rows.toDF("k", "ts", "v"), "ts", "v", Seq("k"))
      .collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getBoolean(5),
        r.getDouble(6))).toMap
    assert(got.size == 20)
    got.foreach { case (ts, (v, flag, rep)) =>
      if (ts == us(90)) {
        assert(flag && rep == 10.5, s"spike at $ts")
      } else {
        assert(!flag && rep == v, s"plateau at $ts")
      }
    }
  }

  test("dtwToTemplate matches a reference banded DTW on random series") {
    import spark.implicits._
    val day = 86400000000L
    val rng = new scala.util.Random(42)
    val nDays = 20
    val users = 1L to 5L
    // one event per (user, day) with integer values: the µ-floor grid
    // mean is exactly value*1e6, so the test can rebuild grid +
    // template + DP without any float subtlety
    val rows = for (u <- users; d <- 0 until nDays)
      yield (u, d * day, rng.nextInt(50).toDouble)
    val df = rows.toDF("user_id", "ts", "value")
    val got = Trend.dtwToTemplate(df, "ts", "value", Seq("user_id"),
      day, 0L, band = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
      .toMap

    def fldiv(a: Long, b: Long): Long = Math.floorDiv(a, b)
    val byUser = rows.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(r => (r._3 * 1e6).toLong).toArray).toMap
    val tmpl = (0 until nDays).map { d =>
      val vs = rows.filter(_._2 == d * day).map(r => (r._3 * 1e6).toLong)
      fldiv(vs.sum, vs.size)
    }.toArray
    val INF = 1000000000000000L
    def dtw(a: Array[Long], b: Array[Long], band: Int): Long = {
      val w = math.max(band, math.abs(a.length - b.length))
      var prev = 0L +: Array.fill(b.length)(INF)
      for (i <- 1 to a.length) {
        val cur = Array.fill(b.length + 1)(INF)
        for (j <- 1 to b.length if math.abs(i - j) <= w)
          cur(j) = math.abs(a(i - 1) - b(j - 1)) +
            math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        prev = cur
      }
      prev(b.length)
    }
    users.foreach { u =>
      val (nT, nS, d6) = got(u)
      assert(nT == nDays && nS == nDays)
      assert(d6 == dtw(tmpl, byUser(u), 3), s"user $u")
    }

    // extreme banded-storage shapes (r14): series with 1, 2 and 9 of
    // the 20 template buckets, where w = |n−m| dominates the band and
    // the banded rows clamp at both array ends — plus a dense user so
    // the template is unchanged
    val sparse = Seq[(Long, Seq[Int])](
      (11L, Seq(0)), (12L, Seq(5, 19)), (13L, 2 until 20 by 2))
    val rows2 = rows.map { case (u, ts, v) => (u + 100L, ts, v) } ++
      sparse.flatMap { case (u, ds) =>
        ds.map(d => (u, d * day, rng.nextInt(50).toDouble)) }
    val got2 = Trend.dtwToTemplate(rows2.toDF("user_id", "ts", "value"),
      "ts", "value", Seq("user_id"), day, 0L, band = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
      .toMap
    val byUser2 = rows2.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(r => (r._3 * 1e6).toLong).toArray).toMap
    val tmpl2 = (0 until nDays).map { d =>
      val vs = rows2.filter(_._2 == d * day).map(r => (r._3 * 1e6).toLong)
      fldiv(vs.sum, vs.size)
    }.toArray
    byUser2.keys.foreach { u =>
      val (nT, nS, d6) = got2(u)
      assert(nT == nDays && nS == byUser2(u).length, s"user $u sizes")
      assert(d6 == dtw(tmpl2, byUser2(u), 3), s"user $u")
    }
  }

  test("dtwToTemplate band = 0 (diagonal-only, n == m) is legal and exact") {
    // ADVICE r14: the banded init row built sequence(1, least(m, w), 1),
    // which threw 'Illegal sequence boundaries' at w = 0 — the old
    // full-grid formulation handled band = 0 (diagonal-only) correctly
    import spark.implicits._
    val day = 86400000000L
    val rng = new scala.util.Random(11)
    val nDays = 12
    val rows = for (u <- 1L to 3L; d <- 0 until nDays)
      yield (u, d * day, rng.nextInt(50).toDouble)
    val got = Trend.dtwToTemplate(rows.toDF("user_id", "ts", "value"),
      "ts", "value", Seq("user_id"), day, 0L, band = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    def fldiv(a: Long, b: Long): Long = Math.floorDiv(a, b)
    val tmpl = (0 until nDays).map { d =>
      val vs = rows.filter(_._2 == d * day).map(r => (r._3 * 1e6).toLong)
      fldiv(vs.sum, vs.size)
    }.toArray
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val a = rs.sortBy(_._2).map(r => (r._3 * 1e6).toLong)
      // band 0 with n == m: the diagonal sum of |a_i - tmpl_i|
      val want = a.zip(tmpl).map { case (x, t) => math.abs(x - t) }.sum
      assert(got(u) == want, s"user $u")
    }
  }

  test("dtwToTemplate span gate coarsens a multi-year span to the capped grid") {
    import spark.implicits._
    val day = 86400000000L
    val rng = new scala.util.Random(7)
    // 700-day span with cap 366: scale = (699-0)//366 + 1 = 2, so the
    // gated run must equal the UNGATED op on a 2-day grid (cap high
    // enough that its own scale stays 1: 350 2-day buckets < 366)
    val rows = for (u <- 1L to 3L; d <- 0 until 700 if rng.nextInt(3) == 0)
      yield (u, d * day + rng.nextInt(24) * 3600000000L,
        rng.nextInt(50).toDouble)
    val df = rows.toDF("user_id", "ts", "value")
    val gated = Trend.dtwToTemplate(df, "ts", "value", Seq("user_id"),
      day, 0L, band = 3, spanCapBuckets = 366)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    val coarse = Trend.dtwToTemplate(df, "ts", "value", Seq("user_id"),
      2 * day, 0L, band = 3, spanCapBuckets = Int.MaxValue)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    assert(gated == coarse)
    assert(gated.values.forall(_._1 <= 366), "template stays under the cap")
  }
}

class StreamFillSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming pad fill equals batch Fill.pad exactly (fillLimit honored)") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // dedup equal (user, ts) rows first: pad's output on a tie depends
    // on which duplicate the window scan sees last, which is exactly
    // the nondeterminism ts_dedup exists to remove
    val base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .groupBy($"user_id", $"ts").agg(min($"value").as("value"))
      .withColumn("value", when($"value" < 5.0, lit(null)).otherwise($"value"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sfill").toString
    base.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(base.schema).parquet(dir)
      .as[graft.streaming.StreamFill.Ev]
    val q = graft.streaming.StreamFill(spark, stream, fillLimit = Some(2))
      .writeStream.outputMode("append").format("memory")
      .queryName("sfill_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sfill_test").select($"user_id", $"ts", $"value")

    val want = graft.operators.Fill.pad(base, "ts", Seq("value"),
      Seq("user_id"), Some(2)).select($"user_id", $"ts", $"value")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the limit must actually bite somewhere for this to test anything
    val unlimited = graft.operators.Fill.pad(base, "ts", Seq("value"),
      Seq("user_id"), None).select($"user_id", $"ts", $"value")
    assert(want.where($"value".isNull).count() >
      unlimited.where($"value".isNull).count())
  }
}

class StreamEwmaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming ewma equals batch Trend.ewma exactly (bounded-span contract)") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sewma").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamEwma(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sewma_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sewma_test")
      .select($"user_id", $"ts", $"value", $"ewma")

    val want = Trend.ewma(batch, "ts", "value", Seq("user_id"))
      .select($"user_id", $"ts", $"value", $"ewma")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamCrossingsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming crossings equal the batch lag formulation exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_scross").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamCrossings(spark, stream, 100.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("scross_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("scross_test")
      .select($"user_id", $"ts", $"prev_v", $"value", $"direction")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val want = batch.withColumn("prev_v", lag($"value", 1).over(w))
      .where($"prev_v".isNotNull &&
        (($"prev_v" < 100.0 && $"value" >= 100.0) ||
          ($"prev_v" >= 100.0 && $"value" < 100.0)))
      .select($"user_id", $"ts", $"prev_v", $"value",
        when($"value" >= 100.0, lit("up")).otherwise(lit("down"))
          .as("direction"))

    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}


class StreamCusumSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming cusum equals the batch window-algebra rewrite exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_scusum").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamCusum(spark, stream, 50.0, 500.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("scusum_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("scusum_test")
      .select($"user_id", $"ts", $"value", $"cusum")

    // the batch operator's prefix-sum + running-min rewrite is
    // definitionally the same recursion the stream folds directly —
    // bit-identical alarms, so backfill and live stream agree
    val want = Trend.cusum(batch, "ts", "value", Seq("user_id"), 50.0, 500.0)
      .select($"user_id", $"ts", $"value", $"cusum")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}


class StreamHoltSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming burst alarms equal the batch viterbi fold exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts")

    val dir = Files.createTempDirectory("graft_sburst").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.StreamBurst.Ev]

    val q = graft.streaming.StreamBurst(spark, stream,
      lam0 = 2.5e-5, lam1 = 1.25e-4, gamma = 2.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("sburst_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sburst_test")

    // same float order as BurstAgg's update trees -> identical flips
    val want = Trend.burst(batch, "ts", Seq("user_id"),
      lam0 = 2.5e-5, lam1 = 1.25e-4, gamma = 2.0)
      .select($"user_id", $"ts", $"gap_s", $"burst", $"score")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming holt equals the batch window aggregate exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sholt").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamHolt(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sholt_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sholt_test")
      .select($"user_id", $"ts", $"value", $"level", $"trend")

    // the stream re-folds the same bounded window with the same float
    // order as the native HoltAgg -> bit-identical level AND trend
    val want = Trend.holt(batch, "ts", "value", Seq("user_id"))
      .select($"user_id", $"ts", $"value", $"level", $"trend")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamBandsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming bollinger bands equal the batch window query exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_sbands").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamBands(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sbands_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sbands_test")

    // the ts_bands window formulation, restated here verbatim
    val f = Window.partitionBy($"user_id")
      .orderBy($"ts", $"value").rowsBetween(-19, 0)
    val want = batch
      .withColumn("mid", round(avg($"value").over(f), 6))
      .withColumn("sigma", round(stddev_pop($"value").over(f), 6))
      .withColumn("band_up", round($"mid" + lit(2.0) * $"sigma", 6))
      .withColumn("band_dn", round($"mid" - lit(2.0) * $"sigma", 6))
      .withColumn("breach", when($"value" > $"band_up", lit("up"))
        .when($"value" < $"band_dn", lit("down")).otherwise(lit("in")))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class StreamHoltWintersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming holt-winters equals the batch window aggregate exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_shw").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamHoltWinters(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("shw_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("shw_test")
      .select($"user_id", $"ts", $"value", $"level", $"trend",
        $"seasonal", $"forecast")

    // the stream re-folds the same bounded window with the same float
    // order as the native HwAgg -> bit-identical level, trend, the
    // re-derived seasonal component, and the one-step-ahead forecast
    val want = Trend.holtWinters(batch, "ts", "value", Seq("user_id"))
      .select($"user_id", $"ts", $"value", $"level", $"trend",
        $"seasonal", $"forecast")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

}

class StreamHampelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming hampel equals batch trailing Trend.hampel exactly") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")

    val dir = Files.createTempDirectory("graft_shamp").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]

    val q = graft.streaming.StreamHampel(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("shamp_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("shamp_test")
      .select($"user_id", $"ts", $"value", $"med", $"mad",
        $"is_outlier", $"repaired")

    // the stream refolds the identical trailing window in the same
    // integer micro-units -> flag/median/repair all match bit-for-bit
    val want = Trend.hampel(batch, "ts", "value", Seq("user_id"),
      centered = false)
      .select($"user_id", $"ts", $"value", $"med", $"mad",
        $"is_outlier", $"repaired")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // and the screen genuinely fires somewhere on real data
    assert(spark.table("shamp_test").where($"is_outlier").count() > 0)
  }
}

class StreamRunsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming closed runs equal the batch run list exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // random series; every key ends with a below-threshold sentinel so
    // every run CLOSES and stream/batch parity is exact
    val rows = (for (u <- 1L to 20L; i <- 0 until 50)
      yield (u, i.toLong * 1000000L, rng.nextDouble() * 100)) ++
      (1L to 20L).map(u => (u, 50L * 1000000L, 0.0))
    val batch = rows.toDF("user_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_sruns").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
      .as[graft.streaming.SeriesFold.Ev]
    val q = graft.streaming.StreamRuns(spark, stream, 60.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("sruns_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sruns_test")
    val want = Trend.runsList(batch, "ts", "value", Seq("user_id"), 60.0)
      .select($"user_id", $"start_ts", $"end_ts", $"len", $"dur")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
