package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Hand-computed semantics checks for the stateful operators
  * (complementing the DuckDB oracle gate that runs via graft.Verify).
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val M = 60000000L // 1 minute in µs

  test("Align linear interpolates interior boundaries only (align.py)") {
    // events at 100s and 400s, window 1m -> boundaries at 120..360s
    val df = Seq((1L, 100 * 1000000L, 10.0), (1L, 400 * 1000000L, 40.0))
      .toDF("k", "ts", "v")
    val out = Align(df, "ts", Seq("v"), Seq("k"), "1m", "linear")
      .orderBy("ts").collect()
    assert(out.map(_.getLong(1)).toSeq ==
      Seq(120L, 180L, 240L, 300L, 360L).map(_ * 1000000L))
    // linear on time: v(120s) = 10 + 30 * (20/300)
    assert(math.abs(out.head.getDouble(2) - 12.0) < 1e-9)
    assert(math.abs(out.last.getDouble(2) - 36.0) < 1e-9)
  }

  test("Align emits correct boundaries for pre-1970 (negative-epoch) series") {
    // events at -90s and -10s, 1m windows: floor positions -2 and -1,
    // one interior boundary at -60s (truncating division would emit a
    // bogus boundary at 0, outside the pair)
    val df = Seq((1L, -90 * 1000000L, 0.0), (1L, -10 * 1000000L, 80.0))
      .toDF("k", "ts", "v")
    val out = Align(df, "ts", Seq("v"), Seq("k"), "1m", "linear").collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == -60 * 1000000L)
    assert(math.abs(out(0).getDouble(2) - 30.0) < 1e-9) // 0 + 80*(30/80)
  }

  test("Align hold carries previous value; limit nulls long gaps") {
    val df = Seq((1L, 30 * 1000000L, 5.0), (1L, 330 * 1000000L, 9.0))
      .toDF("k", "ts", "v")
    val hold = Align(df, "ts", Seq("v"), Seq("k"), "1m", "hold")
      .orderBy("ts").collect()
    assert(hold.length == 5 && hold.forall(_.getDouble(2) == 5.0))
    val limited = Align(df, "ts", Seq("v"), Seq("k"), "1m", "hold", Some(3))
      .orderBy("ts").collect()
    assert(limited.length == 5 && limited.forall(_.isNullAt(2)))
  }

  test("Rate emits TimeRangeEvents with per-second derivative (rate.py)") {
    val df = Seq((1L, 0L, 10.0), (1L, 300 * 1000000L, 40.0),
      (1L, 600 * 1000000L, 10.0)).toDF("k", "ts", "v")
    val out = Rate(df, "ts", Seq("v"), Seq("k")).orderBy("ts_begin").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getDouble(3) - 0.1) < 1e-12)
    assert(math.abs(out(1).getDouble(3) + 0.1) < 1e-12)
    val nn = Rate(df, "ts", Seq("v"), Seq("k"), allowNegative = false)
      .orderBy("ts_begin").collect()
    assert(nn(1).isNullAt(3)) // negative rate suppressed
  }

  test("Rate.counter treats a decrease as a reset (new value = delta)") {
    // counter climbs 10->40, resets (40->10: delta = 10), climbs again
    val df = Seq((1L, 0L, 10.0), (1L, 300 * 1000000L, 40.0),
      (1L, 600 * 1000000L, 10.0), (1L, 900 * 1000000L, 25.0))
      .toDF("k", "ts", "v")
    val out = Rate.counter(df, "ts", "v", Seq("k")).orderBy("ts_begin").collect()
    assert(out.length == 3)
    // rate is rounded to 6dp by the operator: 10/300 -> 0.033333
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.1, 0.033333, 0.05))
    assert(out.map(_.getBoolean(4)).toSeq == Seq(false, true, false))
  }

  test("Fill pad honors fillLimit; linear interpolates on time (filler.py)") {
    val df = Seq((1L, 0L, Some(10.0)), (1L, 1 * M, None), (1L, 2 * M, None),
      (1L, 3 * M, None), (1L, 4 * M, Some(50.0))).toDF("k", "ts", "v")
    val pad = Fill.pad(df, "ts", Seq("v"), Seq("k"), Some(2))
      .orderBy("ts").collect()
    assert(pad.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(10.0), Some(10.0), Some(10.0), None, Some(50.0)))
    val lin = Fill.linear(df, "ts", "v", Seq("k")).orderBy("ts").collect()
    assert(lin.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0, 40.0, 50.0))
  }

  test("Fill linear leaves leading/trailing gaps and over-limit runs null") {
    val df = Seq((1L, 0L, None), (1L, 1 * M, Some(10.0)), (1L, 2 * M, None),
      (1L, 3 * M, Some(30.0)), (1L, 4 * M, None)).toDF("k", "ts", "v")
    val lin = Fill.linear(df, "ts", "v", Seq("k")).orderBy("ts").collect()
    assert(lin(0).isNullAt(2) && lin(4).isNullAt(2))
    assert(lin(2).getDouble(2) == 20.0)
    val lim = Fill.linear(df, "ts", "v", Seq("k"), Some(1)).orderBy("ts").collect()
    assert(lim(2).isNullAt(2)) // run of length 1 >= limit 1 stays unfilled
  }

  test("Combine.asof picks latest right row <= left ts per key") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 100L, "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 50L, 5.0), (1L, 200L, 7.0), (2L, 150L, 9.0))
      .toDF("k", "ts", "v")
    val out = Combine.asof(left, right, Seq("k"), "ts",
      leftCols = Seq("tag"), rightVals = Seq("v"))
      .orderBy("k", "ts").collect()
    assert(out(0).getDouble(3) == 5.0)  // k=1 t=100 -> right@50
    assert(out(1).getDouble(3) == 7.0)  // k=1 t=200 -> right@200 (<=)
    assert(out(2).isNullAt(3))          // k=2 t=100 -> nothing yet
  }

  test("Combine.asofTolerance nulls matches older than the bound") {
    val left = Seq((1L, 100L, "a"), (1L, 500L, "b"), (2L, 100L, "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 80L, 5.0), (1L, 200L, 7.0)).toDF("k", "ts", "v")
    val out = Combine.asofTolerance(left, right, Seq("k"), "ts",
      leftCols = Seq("tag"), rightVals = Seq("v"), toleranceUs = 100L)
      .orderBy("k", "ts").collect()
    // k=1 t=100: right@80 is 20 old -> fresh, value + matched ts kept
    assert(out(0).getDouble(3) == 5.0 && out(0).getLong(4) == 80L)
    // k=1 t=500: latest right@200 is 300 old -> rejected as stale
    assert(out(1).isNullAt(3) && out(1).isNullAt(4))
    // k=2: no right row at all -> null, not an error
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("Combine.asofNext picks earliest right row >= left ts per key") {
    val left = Seq((1L, 100L, "a"), (1L, 250L, "b"), (2L, 200L, "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, 5.0), (1L, 200L, 7.0), (2L, 150L, 9.0))
      .toDF("k", "ts", "v")
    val out = Combine.asofNext(left, right, Seq("k"), "ts",
      leftCols = Seq("tag"), rightVals = Seq("v"))
      .orderBy("k", "ts").collect()
    assert(out(0).getDouble(3) == 5.0)  // k=1 t=100 -> right@100 (>=)
    assert(out(1).isNullAt(3))          // k=1 t=250 -> nothing ahead
    assert(out(2).isNullAt(3))          // k=2 t=200 -> right@150 is behind
  }

  test("Combine.asof returns the matched row's null, not an older value") {
    val left = Seq((1L, 300L, "a")).toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, Some(5.0)), (1L, 200L, None)).toDF("k", "ts", "v")
    val out = Combine.asof(left, right, Seq("k"), "ts",
      leftCols = Seq("tag"), rightVals = Seq("v")).collect()
    // latest right row (ts=200) has v=null; ASOF semantics return that
    // null rather than skipping back to ts=100's 5.0
    assert(out.length == 1 && out(0).isNullAt(3))
  }

  test("percentileMethod survives all-null groups (returns null)") {
    val df = Seq((1L, None: Option[Double]), (1L, None), (2L, Some(3.0)))
      .toDF("k", "v")
    val out = df.groupBy("k").agg(
      graft.functions.Aggs.percentileMethod($"v", 0.9, "nearest").as("p"),
      graft.functions.Aggs.percentileMidpoint6($"v", 0.9).as("m"))
      .orderBy("k").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(1).getDouble(1) == 3.0)
  }

  test("bucketing floors pre-1970 timestamps (pypond // semantics)") {
    val df = Seq(-1L, 0L, 999999L, -1000000L).toDF("ts")
    val pos = df.select(graft.functions.TimeIndex.posOf($"ts", "1s").as("p"))
      .collect().map(_.getLong(0)).toSeq
    assert(pos == Seq(-1L, 0L, 0L, -1L))
  }

  test("Sessionize splits on gaps > threshold") {
    val df = Seq((1L, 0L, 1.0), (1L, 10 * M, 1.0), (1L, 100 * M, 1.0))
      .toDF("k", "ts", "v")
    val out = Sessionize(df, "ts", Seq("k"), 30 * M,
      Seq(count(lit(1)).as("n"))).orderBy("session_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 2 && out(1).getLong(2) == 1)
  }

  test("MinHash LSH finds identical docs; misses unrelated docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("Dedup.components labels each component with its min id") {
    // two components: {1,2,3,4} chained (diameter 3) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("Dedup.components small-graph fast path equals the distributed loop") {
    // r15: below CcLocalMaxEdges, components() labels on the driver
    // (union-find); the labels must be IDENTICAL to the quotient-loop
    // engine on a random multi-component graph incl. chains and dups
    val rng = new scala.util.Random(7)
    val pairs = ((0 until 400).map { _ =>
      (rng.nextInt(120).toLong + 1, rng.nextInt(120).toLong + 1)
    }.filter { case (a, b) => a != b } ++
      // an 80-node chain with ids far from the random block
      (0 until 79).map(i => (1000L + i, 1001L + i)))
      .toDF("id_a", "id_b")
    val fast = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.componentsWithRounds(pairs)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    // chain labels all resolve to the chain minimum
    assert((1000L to 1079L).forall(fast(_) == 1000L))
  }

  test("Dedup.contaminationBloom contains the exact result (no false negatives)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pred = col("doc_id") % 97 === 0
    val exact = Dedup.contamination(docs, pred)
      .select(col("doc_id"), col("n_shared"), col("contaminated"))
    val bloom = Dedup.contaminationBloom(docs, pred)
    val joined = exact.join(bloom, Seq("doc_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nExact, cExact) = (r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))
      val nMaybe = r.getAs[Long]("n_shared_maybe")
      // Bloom may only ADD phantom hits, never lose real ones
      assert(nMaybe >= nExact, s"doc ${r.getLong(0)}: $nMaybe < $nExact")
      assert(!cExact || nMaybe > 0)
    }
    // and the fp inflation is a sketch-sized effect, not a blowup
    val exactHits = joined.map(_.getAs[Long]("n_shared")).sum
    val maybeHits = joined.map(_.getAs[Long]("n_shared_maybe")).sum
    assert(maybeHits <= exactHits + joined.length,
      s"fp inflation too large: $maybeHits vs $exactHits")
  }

  test("rqCodes: members recode exactly; level 2 refines pointwise") {
    import spark.implicits._
    // 12 vectors, 3 tight axis clusters; every=4 -> level-1 codebook
    // {1, 5, 9} (one per cluster), level-2 codebook = residuals of
    // {2, 6, 10} + the zero codeword
    val rows = (0 until 12).map { i =>
      val id = i + 1L
      val base = Array.fill(4)(0.0f)
      base(i % 3) = 10.0f
      base((i % 3 + 1) % 4) = (i / 3).toFloat * 0.1f
      (id, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Knn.rqCodes(df, 4, centroidEvery = 4).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == 12)
    // a level-1 member's residual is 0 -> the zero codeword keeps it 0
    Seq(1L, 5L, 9L).foreach { id =>
      assert(got(id) == (-1L, 0.0, 0.0)) }
    // the zero codeword makes refinement monotone POINTWISE
    got.values.foreach { case (_, e1, e2) => assert(e2 <= e1) }
    // and level 2 genuinely refines where a residual centroid is near:
    // id 7's residual (0, 0.2, 0, 0) codes to id 10's (0, 0.3, 0, 0)
    assert(got(7L)._1 == 10L && got(7L)._3 < got(7L)._2 && got(7L)._2 > 0)
  }

  test("bqWords packs sign bits MSB-first; bqSearchTopK ranks by Hamming") {
    import spark.implicits._
    // 4 corpus vectors over 32 dims, per-dim means all 0: v1/v2 are +1
    // on dims 1-16 and -1 after (word 0xFFFF0000), v3/v4 the
    // complement (word 0x0000FFFF)
    def vec(hiFirst: Boolean): Seq[Float] =
      (0 until 32).map(d => if ((d < 16) == hiFirst) 1.0f else -1.0f)
    val corpus = Seq(
      (1L, vec(true)), (2L, vec(true)), (3L, vec(false)), (4L, vec(false))
    ).toDF("vec_id", "embedding")
    val words = Knn.bqWords(corpus, 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(words(1L) == Seq(0xFFFF0000L) && words(2L) == Seq(0xFFFF0000L))
    assert(words(3L) == Seq(0x0000FFFFL) && words(4L) == Seq(0x0000FFFFL))
    // a query identical to v1 (fresh id): Hamming 0 to v1/v2, 32 to
    // v3/v4; exact-cosine rerank keeps the id-asc tie order
    val q = Seq((100L, vec(true))).toDF("vec_id", "embedding")
    val got = Knn.bqSearchTopK(corpus, q, 32, 4).collect()
      .sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.take(2).forall { case (_, ham, cos) => ham == 0L && cos == 1.0 })
    assert(got.drop(2).forall { case (_, ham, cos) => ham == 32L && cos == -1.0 })
  }

  test("abtt removes the dominant direction, keeping the residual") {
    import spark.implicits._
    // e1 dominates every vector; e2 carries small signal. After
    // all-but-the-top, the e1 mass (norm ~10) must be gone and only
    // the residual (< 1) remain
    val rows = Seq(
      1L -> Seq(10f, 0.3f, 0f, 0f), 2L -> Seq(-10f, 0.4f, 0f, 0f),
      3L -> Seq(9.5f, -0.2f, 0f, 0f), 4L -> Seq(-9.5f, -0.5f, 0f, 0f))
    val got = Knn.abtt(rows.toDF("vec_id", "embedding"), 4).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.size == 4)
    got.values.foreach { case (proj, nb, na) =>
      assert(math.abs(proj) > 9.0 && nb > 9.0 && na < 1.0,
        s"($proj, $nb, $na)")
    }
  }

  test("knnGraph links every node to its own cluster's members") {
    import spark.implicits._
    // two antipodal tight clusters: ids 1-4 near +e1, ids 5-8 near -e1
    val rows = (1L to 8L).map { id =>
      val sign = if (id <= 4) 1.0f else -1.0f
      id -> Seq(sign, 0.01f * id, 0f, 0f)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = Knn.knnGraph(emb, 4, 3, nPlanes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val bySrc = got.groupBy(_._1)
    assert(bySrc.keySet == (1L to 8L).toSet, "every node has edges")
    got.foreach { case (src, _, dst, cos) =>
      assert((src <= 4) == (dst <= 4), s"$src -> $dst crosses clusters")
      assert(cos > 0.99)
    }
    // per-node degree exactly k here (3 cluster-mates each), ranks 1..3
    bySrc.values.foreach(es => assert(es.map(_._2).toSet == Set(1, 2, 3)))
  }

  test("pqPermutation deals dims round-robin by descending variance") {
    import spark.implicits._
    // dim-8, m=2: variance order by construction is 8,7,...,1 (dim d
    // alternates ±d/10 across rows, so var ∝ d² and means are 0);
    // expected deal: rank r lands in subspace (r-1)%2, slot (r-1)/2 →
    // pm = [8,6,4,2, 7,5,3,1]
    val rows = (0 until 10).map { i =>
      val s = if (i % 2 == 0) 1f else -1f
      (i.toLong, (1 to 8).map(d => s * d / 10f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val pm = Knn.pqPermutation(emb, 8, 2).collect()(0)
      .getAs[scala.collection.Seq[Int]]("pm")
    assert(pm.toSeq == Seq(8, 6, 4, 2, 7, 5, 3, 1))
    // and the permuted-PQ store over it has the pqCodes shape with a
    // code per subspace
    val codes = Knn.pqCodesPermuted(emb, 8, 2, centroidEvery = 2).collect()
    assert(codes.length == 10)
    assert(codes.forall(_.getAs[String]("codes").split(",").length == 2))
  }

  test("kCenterSelect greedily picks one vector per planted cluster") {
    import spark.implicits._
    // three clusters on axes: {1,2} ~ e1, {3,4} ~ e2, {5,6} ~ e3 (e3
    // tilted 0.1 toward e1 so round order is forced); within each
    // cluster the second member is tilted toward an already-selected
    // axis so greedy never picks a cluster twice
    val rows = Seq(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(1f, 0.05f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f, 0f), 4L -> Seq(0.05f, 1f, 0f, 0f),
      5L -> Seq(0.1f, 0f, 1f, 0f), 6L -> Seq(0.2f, 0f, 1f, 0f))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Knn.kCenterSelect(emb, 4, 3).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2))))
    // seed = min id; round 2 = the exactly-orthogonal e2 cluster's
    // untilted member (cov = 1 - 0); round 3 = e3's least-tilted member
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 5L))
    assert(got(0)._3.isEmpty)
    assert(got(1)._3.contains(1.0))
    val cov3 = got(2)._3.get.asInstanceOf[Double]
    assert(cov3 > 0.89 && cov3 < 0.91) // 1 - cos(e3-tilted, e1) ~ 0.900
  }

  test("kCenterSampled runs the greedy over the strided pool only") {
    import spark.implicits._
    // same planted-cluster fixture as the exact spec; poolEvery = 2
    // keeps ids {1,3,5} — the pool IS the exact answer set, so the
    // trajectory must match kCenterSelect on the filtered frame and
    // never touch the even ids
    val rows = Seq(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(1f, 0.05f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f, 0f), 4L -> Seq(0.05f, 1f, 0f, 0f),
      5L -> Seq(0.1f, 0f, 1f, 0f), 6L -> Seq(0.2f, 0f, 1f, 0f))
    val emb = rows.toDF("vec_id", "embedding")
    val samp = Knn.kCenterSampled(emb, 4, 3, poolEvery = 2).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2)))).toSeq
    assert(samp.map(_._2) == Seq(1L, 3L, 5L))
    val exact = Knn.kCenterSelect(emb.where($"vec_id" % 2 === 1), 4, 3)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2)))).toSeq
    assert(samp == exact)
  }

  test("kCenterSelect batched greedy equals the one-pick-per-scan fold") {
    import spark.implicits._
    // 40 deterministic pseudo-random 4-dim vectors, k=10: enough picks
    // that the batch=8 run must both accept driver-side continuations
    // and hit the rescan path at least once
    val rows = (1L to 40L).map { id =>
      val h = (j: Int) => (((id * 2654435761L + j * 40503L) % 1000) / 1000.0f)
      id -> Seq(h(1) - 0.5f, h(2) - 0.5f, h(3) - 0.5f, h(4) - 0.5f)
    }
    val emb = rows.toDF("vec_id", "embedding")
    def run(b: Int) = Knn.kCenterSelect(emb, 4, 10, batch = b).collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2)))).sortBy(_._1)
    assert(run(8).toSeq == run(1).toSeq)
  }

  test("graphRankFromEdges replays the damped rounds by hand") {
    import spark.implicits._
    // 1 -> {2, 3} (deg 2), 2 -> 1 (deg 1), 3 dangling:
    // round 1: pr(1) = 0.15 + 0.85*1.0 = 1.0; pr(2) = pr(3) =
    //   0.15 + 0.85*0.5 = 0.575
    // round 2: pr(1) = 0.15 + 0.85*0.575 = 0.63875; pr(2)/pr(3)
    //   unchanged (their in-contribution is still pr(1)/2 = 0.5)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val got = Knn.graphRankFromEdges(edges, nodes).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((2L, 0.63875)))
    assert(got(2L) == ((1L, 0.575)))
    assert(got(3L) == ((0L, 0.575))) // dangling: rank floor + in-mass
  }

  test("whiten standardizes each dimension to exact µ-units") {
    import spark.implicits._
    // both dims have mean 1 resp. 2 and population sd 1 -> whitened
    // coordinates are exactly ±1 (±1e6 µ-units)
    val emb = Seq((1L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val got = Knn.whiten(emb, 2).orderBy("vec_id")
      .collect().map(_.getString(1))
    assert(got.toSeq == Seq("-1000000,-1000000", "1000000,1000000"))
  }

  test("contaminationSpans marks exactly the verbatim benchmark overlap") {
    import spark.implicits._
    // doc 0 is the benchmark; doc 1 embeds a verbatim 30-char slice of
    // it mid-text (every char 20-gram of the slice hits -> one maximal
    // span of 30 chars); doc 2 shares nothing
    val benchText = "the quick brown fox jumps over the lazy dog tonight"
    val slice = benchText.substring(10, 40) // 30 chars
    val docs = Seq(
      (0L, benchText),
      (1L, "AAAAAAAAAA" + slice + "BBBBBBBBBB"),
      (2L, "completely unrelated content with no overlap at all x")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(docs, col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(got.keySet == Set(1L, 2L)) // bench doc excluded
    assert(got(1L) == (1L, 30L, true))
    assert(got(2L) == (0L, 0L, false))
  }

  test("weightedTopK: priorities are the exact min-of-w rolling hashes; k smallest kept") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, (i % 23 + 1).toInt)).toDF("doc_id", "w0")
    val got = Sampling.weightedTopK(df, "doc_id", col("w0"), k = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // brute-force recomputation with the same hash kernel
    def prio(id: Long, w: Int): Long = (1 to w).map { j =>
      graft.functions.HashImpl.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$id#$j"))
    }.min
    val want = (1L to 200L).map { i =>
      val w = math.max(1, math.min(16, (i % 23 + 1).toInt))
      (i, w, prio(i, w))
    }.sortBy(t => (t._3, t._1)).take(12)
    assert(got.toSeq == want.toSeq)
  }

  test("cmsHeavyHitters: both sketch contracts hold; ranks are 1..k") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hh = Freq.cmsHeavyHitters(docs).collect()
    assert(hh.length == 20)
    assert(hh.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 20))
    hh.foreach { r =>
      assert(r.getAs[Boolean]("no_underestimate"),
        s"CMS undercounted ${r.getAs[String]("tok")}")
      assert(r.getAs[Boolean]("within_bound"),
        s"CMS estimate for ${r.getAs[String]("tok")} exceeds depth*N/width")
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"))
    }
  }

  test("contaminationAudit: exact columns match the exact operator; verdicts hold") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pred = col("doc_id") % 97 === 0
    val audit = Dedup.contaminationAudit(docs, pred)
    val exact = Dedup.contamination(docs, pred)
    val a3 = audit.select("doc_id", "n_shared", "contaminated")
    assert(a3.exceptAll(exact).isEmpty && exact.exceptAll(a3).isEmpty,
      "audit's exact leg diverged from Dedup.contamination")
    assert(audit.where(!col("bloom_no_false_neg") ||
      !col("bloom_flags_all_contaminated")).count() == 0,
      "bloom contract verdict flipped false")
  }

  test("percentileLinOf6/percentileMethodOf == the aggregate forms on shared groups") {
    import spark.implicits._
    import graft.functions.Aggs
    val rnd = new scala.util.Random(42)
    // group sizes 1, 2, 3 and a few hundred; values with ties and 6dp noise
    val rows = (0 until 700).map { i =>
      val k = if (i < 1) 100 else if (i < 3) 101 else if (i < 6) 102 else i % 5
      (k, math.floor(rnd.nextDouble() * 1e9) / 1e3)
    }
    val df = rows.toDF("k", "v")
    val ps = Seq(0.0, 0.25, 0.499, 0.5, 0.867, 0.99, 1.0)
    val aggCols =
      ps.zipWithIndex.map { case (p, i) =>
        Aggs.percentileLin6(col("v"), p).as(s"lin_$i") } ++
      ps.zipWithIndex.map { case (p, i) =>
        Aggs.percentileMethod(col("v"), p, "lower").as(s"lo_$i") } ++
      ps.zipWithIndex.map { case (p, i) =>
        Aggs.percentileMethod(col("v"), p, "higher").as(s"hi_$i") } ++
      ps.zipWithIndex.map { case (p, i) =>
        Aggs.percentileMethod(col("v"), p, "nearest").as(s"nr_$i") } :+
      sort_array(collect_list(col("v"))).as("vs")
    val agg = df.groupBy("k").agg(aggCols.head, aggCols.tail: _*)
    val mismatches = ps.zipWithIndex.flatMap { case (p, i) => Seq(
      !(col(s"lin_$i") <=> Aggs.percentileLinOf6(col("vs"), p)),
      !(col(s"lo_$i") <=> Aggs.percentileMethodOf(col("vs"), p, "lower")),
      !(col(s"hi_$i") <=> Aggs.percentileMethodOf(col("vs"), p, "higher")),
      !(col(s"nr_$i") <=> Aggs.percentileMethodOf(col("vs"), p, "nearest")))
    }.reduce(_ || _)
    assert(agg.where(mismatches).count() == 0,
      "array-probe percentile diverged from the aggregate form")
  }

  test("Dedup.components converges in O(log diameter) rounds on a chain") {
    // adversarial worst case: ONE chain component of diameter 255
    // (heavily templated crawls where LSH pairs drift). Plain min-label
    // propagation needs ~diameter rounds; pointer jumping (lbl :=
    // lbl(lbl), active from round 3) halves chain lengths each round,
    // so rounds stay ~2 + log2(d) + 1 convergence-detect round.
    val n = 256
    val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.componentsWithRounds(pairs, maxIter = 25)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n && got.forall(_._2 == 0L))
    assert(rounds <= 13, s"chain-256 took $rounds rounds — pointer " +
      "jumping is not holding O(log d)")
  }

  test("Dedup.minhashClusters keeps singletons as their own cluster") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("Dedup.blockDedup keeps first occurrence, reassembles in order") {
    val docs = Seq(
      (1L, "a b c d x"),   // blocks "a b","c d"; tail "x"
      (2L, "a b e f"),     // "a b" repeats (1,0) -> removed
      (3L, "c d"),         // whole text is a repeated block -> empty
      (4L, "g h g h"))     // within-doc repeat: keep first
      .toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs, blockW = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((2L, 0L, "a b c d x"))) // untouched: verbatim
    assert(out(2L) == ((2L, 1L, "e f")))
    assert(out(3L) == ((1L, 1L, "")))
    assert(out(4L) == ((2L, 1L, "g h")))
  }

  test("Dedup.simhashPairsWide pairs identical docs, ignores unrelated") {
    // at 60 bits random signatures essentially never collide — only a
    // genuinely shared token distribution pairs (a short doc with one
    // word swapped already flips > 3 of 60 bits: the wide geometry is
    // STRICT, which is exactly why its candidates are true near-dups)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the river"),
      (3L, "completely different content about distributed query engines"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairsWide(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0)))
  }

  test("Dedup.bandPairs keeps hamming == maxHamming, drops maxHamming + 1") {
    // 24-bit sigs in 3 byte bands; every pair shares bands 1 and 2, so
    // each is a candidate twice and must come out once
    val df = Seq((1L, 0x000000L, "t1"), (2L, 0x000003L, "t2"),
      (3L, 0x000007L, "t3")).toDF("id", "sig", "tag")
    val got = Dedup.bandPairs(Dedup.bitBands(df, "sig", 8, 3), "id", "sig",
        maxHamming = 2, "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    // (1, 3) is at hamming 3: a candidate, dropped by the verify
    assert(got == Set((1L, 2L, 2, "t1", "t2"), (2L, 3L, 1, "t2", "t3")))
  }

  test("Dedup.postingPairs equals a brute force; the cap keeps df in 2..maxDf") {
    val maxDf = 4
    val rnd = new scala.util.Random(7)
    // random sets over a small key universe, plus one key held by
    // exactly maxDf ids (kept) and one held by maxDf + 1 ids (dropped)
    val sets: Map[Long, Set[Long]] =
      (1L to 40L).map(i => i -> Seq.fill(1 + rnd.nextInt(6))(
        rnd.nextInt(30).toLong).toSet).toMap ++
        (101L to 100L + maxDf).map(_ -> Set(1000L)) ++
        (201L to 201L + maxDf).map(_ -> Set(2000L))
    val withSh = sets.toSeq.map { case (id, ks) => (id, ks.toSeq) }
      .toDF("doc_id", "sids")
    def brute(cap: Option[Int]): Map[(Long, Long), (Long, Long, Long)] = {
      val df = sets.values.toSeq.flatten.groupBy(identity).map {
        case (k, ks) => k -> ks.size }
      val kept = (k: Long) => cap.forall(df(k) <= _)
      (for {
        (a, ka) <- sets.toSeq
        (b, kb) <- sets.toSeq
        if a < b
        n = (ka intersect kb).count(kept).toLong
        if n > 0
      } yield (a, b) -> ((n, ka.size.toLong, kb.size.toLong))).toMap
    }
    for (cap <- Seq(None, Some(maxDf))) {
      val postings = withSh.select(col("doc_id").as("id"),
        size(col("sids")).as("n"), explode(col("sids")).as("sid"))
      val got = Dedup.postingPairs(postings, "sid", cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getInt(3).toLong, r.getInt(4).toLong))).toMap
      val want = brute(cap)
      assert(got == want, cap)
      assert(want.contains((101L, 100L + maxDf)))
      assert(want.contains((201L, 201L + maxDf)) == cap.isEmpty)
      // the two callers' last projections over the same pairs
      val jac = Dedup.ngramJaccardPairsFromShingles(withSh, threshold = 0.0,
          maxDocFreq = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(jac == want.map { case (p, (n, na, nb)) =>
        p -> math.round(n.toDouble / (na + nb - n) * 1e6) / 1e6 })
      val ovl = Multimodal.overlapPairs(Dedup.postingPairs(postings, "sid", cap))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(ovl == want.map { case (p, (n, na, nb)) =>
        p -> math.round(n.toDouble / math.min(na, nb) * 1e6) / 1e6 })
    }
  }

  test("Dedup.duplicateSpans coalesces overlapping grams into maximal spans") {
    val docs = Seq(
      (0L, "abcdefghij"),   // shares "abcdefgh" with doc 1 -> span [0,8)
      (1L, "XXabcdefghQQ"), // the shared run sits at [2,10)
      (2L, "zzzzzzzz"),     // WITHIN-doc repeats: every 5-gram equal
      (3L, "unique str !")) // nothing repeated
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, k = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((1L, 8L, 0.8)))
    assert(out(1L) == ((1L, 8L, 0.666667)))
    assert(out(2L) == ((1L, 8L, 1.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("Dedup.spanDedup cuts non-first duplicated spans, reassembles text") {
    val docs = Seq(
      (0L, "abcdefghij"),   // owns the first occurrences: untouched
      (1L, "XXabcdefghQQ"), // shared run at [2,10) is non-first -> cut
      (2L, "zzzzzzzz"),     // within-doc: keep pos 0's gram, cut [1,8)
      (3L, "unique str !")) // nothing repeated
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((0L, 0L, "abcdefghij")))
    assert(out(1L) == ((1L, 8L, "XXQQ")))
    assert(out(2L) == ((1L, 7L, "z")))
    assert(out(3L) == ((0L, 0L, "unique str !")))
  }

  test("Knn.mmrTopK trades relevance for diversity in greedy order") {
    import spark.implicits._
    // query (1,0); a and b are the same direction (mutual cos 1), c is
    // at cos 0.9 — with diversity weighted 0.7, round 2 skips the
    // near-duplicate b for the diverse c (pure relevance would pick b)
    val rows = Seq(
      (100L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(9.0f, 4.358899f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Knn.mmrTopK(emb, emb.where($"vec_id" === 100), dim = 2,
      k = 2, pool = 3, wRel = 0.3, wDiv = 0.7).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 2L -> 3L))
  }

  test("Knn.mmrTopK clamps k to the candidate count (no null ranks)") {
    import spark.implicits._
    // 3 candidates, k = 5: the greedy fold must stop at 3 selections
    // instead of appending null indices for the excess ranks
    val rows = Seq(
      (100L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.9f, 0.0f)),
      (3L, Array(0.5f, 0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Knn.mmrTopK(emb, emb.where($"vec_id" === 100), dim = 2,
      k = 5, pool = 20, wRel = 0.7, wDiv = 0.3).collect()
    assert(out.length == 3)
    assert(out.forall(r => !r.isNullAt(2) && !r.isNullAt(3)))
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("Knn.semDedup drops the pair member closer to its centroid") {
    // clusters {0,1} and {2,3} (seeds = every 2nd id); each pair is
    // near-identical (cos ~0.995), and the longer vector of each pair
    // (ids 0, 2) sits closer to its cluster mean -> dropped
    val e = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Knn.semDedup(e, 2, threshold = 0.95, iters = 2,
      centroidEvery = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out == Map(0L -> ((1L, false)), 1L -> ((1L, true)),
      2L -> ((3L, false)), 3L -> ((3L, true))))
  }

  test("TextOps.bm25 rewards tf and penalizes length; non-matches drop") {
    // d1: two hits in a short doc; d2: one hit in a long doc; d3: no
    // hits (excluded). d1 must outrank d2 on both tf and length norm
    val docs = Seq(
      (1L, "spark spark fast"),
      (2L, "spark " + Seq.fill(20)("pad").mkString(" ")),
      (3L, "no match here"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25(docs, Seq("spark"), topK = 10).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.head.getDouble(2) > out.last.getDouble(2))
    assert(out.forall(_.getLong(1) == 1L))
  }

  test("Trend.crossCorr finds the lag where y follows x") {
    // y(t) = 2*x(t-1): at lag 1 every pair is on a line (corr 1.0);
    // at lag 0 the alignment is scrambled. user 2's y is constant —
    // zero variance must be dropped, not emitted as NaN
    val x = Seq((1L, 0L, 1.0), (1L, 1L, 5.0), (1L, 2L, 2.0), (1L, 3L, 8.0),
      (2L, 0L, 1.0), (2L, 1L, 2.0), (2L, 2L, 3.0))
      .toDF("user_id", "ts", "v")
    val y = Seq((1L, 1L, 2.0), (1L, 2L, 10.0), (1L, 3L, 4.0), (1L, 4L, 16.0),
      (2L, 1L, 7.0), (2L, 2L, 7.0), (2L, 3L, 7.0))
      .toDF("user_id", "ts", "v")
    val out = Trend.crossCorr(x, y, "ts", "v", Seq("user_id"), 1L, Seq(0, 1))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out((1L, 1)) == ((4L, 1.0)))
    assert(out((1L, 0))._1 == 3L && out((1L, 0))._2 < 1.0)
    assert(!out.contains((2L, 0)) && !out.contains((2L, 1)),
      "zero-variance groups must be dropped")
  }

  test("Knn.mipsTopK ranks by raw inner product, not angle") {
    // q = (1,0); c10 points the SAME direction as c1 but 10x longer:
    // cosine would tie them (then id-break to c1), MIPS must put the
    // long vector first — the norm IS the signal
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (10L, Array(10.0f, 0.0f)),
      (2L, Array(0.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((99L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Knn.mipsTopK(corpus, q, 2, 3).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1) == ((10L, 10.0)) && out(2) == ((1L, 1.0)) &&
      out(3) == ((2L, 0.0)))
  }

  test("Knn.mipsLshTopK candidate scores equal the brute inner product") {
    // LSH may miss pairs (recall dial) but must never mis-score one:
    // every (query, neighbor, ip) it emits appears in the brute
    // all-pairs scoring with the identical ip
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 100 === 0)
    val brute = Knn.mipsTopK(emb, queries, 64, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Knn.mipsLshTopK(emb, queries, 64, 3).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(brute(key) == r.getDouble(3), s"score drift at $key")
    }
  }

  test("Knn.clusterSample keeps the farthest-from-centroid member first") {
    // same fixture as semDedup: clusters {0,1} and {2,3}; ids 0 and 2
    // sit CLOSER to their cluster mean, so perCluster=1 keeps 1 and 3
    val e = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Knn.clusterSample(e, 2, perCluster = 1, iters = 2,
      centroidEvery = 2).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(out.map(_.getInt(3)).forall(_ == 1))
  }

  test("Sampling.sourceMix clamps rare sources to keep-all, thins the rest") {
    // 99 'web' docs + 1 'book': the book rate clamps at 1 (always
    // kept, hash-independent); web thins to its sub-1 rate. The doc
    // id LEADS the text: the polynomial hash diffuses prefix
    // differences through the whole fold, where a shared long prefix
    // would cluster the suffix-only variation into a narrow band
    val docs = (1 to 99).map(i => (i.toLong, s"$i web doc", "web")) :+
      ((100L, "the one book", "book"))
    val df = docs.toDF("doc_id", "text", "source")
    val out = Sampling.sourceMix(df, col("source"), col("text"),
      targetFrac = 0.5).collect()
    assert(out.count(_.getString(2) == "book") == 1)
    val web = out.count(_.getString(2) == "web")
    assert(web > 0 && web < 99)
  }

  test("Sampling.tokenBudget keeps best-first until the budget is spent") {
    // per-source greedy: quality desc, doc_id tie-break; a doc that
    // would overflow the budget is dropped even if later smaller docs
    // would still fit (greedy prefix, not optimal knapsack - that is
    // the documented semantics)
    val df = Seq(
      (1L, "web", 40L, 0.9), (2L, "web", 50L, 0.8), (3L, "web", 30L, 0.7),
      (4L, "web", 10L, 0.6), (5L, "book", 100L, 0.5), (6L, "book", 10L, 0.4))
      .toDF("doc_id", "source", "n_tokens", "quality")
    val out = Sampling.tokenBudget(df, col("source"), col("n_tokens"),
      budget = 100L, priority = Seq(col("quality").desc, col("doc_id")))
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // web: 40 (cum 40) + 50 (cum 90) kept, 30 overflows (cum 120) ->
    // dropped, and 10 after it also dropped (prefix semantics, cum 130)
    // book: 100 exactly exhausts the budget; the next doc overflows
    assert(out == Map(1L -> 40L, 2L -> 90L, 5L -> 100L))
  }

  test("TextOps.lmScore matches the hand-computed micro-nat fold") {
    val docs = Seq(
      (1L, "a b a b a b"),  // bigrams (a,b)x3, (b,a)x2
      (2L, "c d e f g h"),  // 5 singleton bigrams
      (3L, "x"))            // no bigram -> null score
      .toDF("doc_id", "text")
    // corpus model: c2(ab)=3, c2(ba)=2, singletons 1; c1(a)=3, c1(b)=2,
    // others 1; V = 9 distinct tokens; k = 0.5
    def snap(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    def nll(su: Long, n: Int): Double = new java.math.BigDecimal(
      -su.toDouble / 1e6 / n).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue
    val su1 = 3 * snap(math.log(3.5 / (3 + 4.5))) +
      2 * snap(math.log(2.5 / (2 + 4.5)))
    val su2 = 5L * snap(math.log(1.5 / (1 + 4.5)))
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(out(1L) == ((5L, Some(nll(su1, 5)))))
    assert(out(2L) == ((5L, Some(nll(su2, 5)))))
    assert(out(3L) == ((0L, None)))
    assert(out(1L)._2.get < out(2L)._2.get) // repetition = lower NLL
  }

  test("TextOps.entropy: uniform > skewed > constant; empty null") {
    val docs = Seq(
      (1L, "a b c d"),    // uniform: H = ln 4
      (2L, "a a a b"),    // skewed
      (3L, "a a a a"),    // constant: H = 0
      (4L, ""))           // no tokens -> null
      .toDF("doc_id", "text")
    def snap(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    def h(fracs: Double*): Double = new java.math.BigDecimal(
      -fracs.map(f => snap(f * math.log(f))).sum.toDouble / 1e6)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val out = TextOps.entropy(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(out(1L) == ((4L, Some(h(0.25, 0.25, 0.25, 0.25)))))
    assert(out(2L) == ((4L, Some(h(0.75, 0.25)))))
    assert(out(3L) == ((4L, Some(0.0))))
    assert(out(4L) == ((0L, None)))
  }

  test("TextOps.classify: hand fold; weight-table path is bit-identical") {
    val docs = Seq(
      (1L, "the cat sat"),   // 3 unigrams + 2 bigrams
      (2L, "x"),             // 1 unigram, no bigram
      (3L, ""))              // no features -> nulls
      .toDF("doc_id", "text")
    // hand-compute doc 1's margin with the same integer arithmetic
    def poly(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    def wU(b: Long): Long = (b * 2654435761L) % 2147483648L % 2000001L - 1000000L
    val feats = Seq("the", "cat", "sat", "the cat", "cat sat").map(s => poly(s) % 65536L)
    val su = feats.map(wU).sum
    val wantMargin = new java.math.BigDecimal(su.toDouble / 1e6 / feats.size)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0

    val out = TextOps.classify(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getString(3))))).toMap
    assert(out(1L) == ((5L, Some(wantMargin),
      Some(if (su > 0) "keep" else "drop"))))
    assert(out(2L)._1 == 1L)
    assert(out(3L) == ((0L, None, None)))

    // a real weight table with the same weights reproduces the hashed
    // path bit-for-bit (absent buckets = 0 exercised by restricting the
    // table to the buckets actually hit — others never contribute)
    val wtab = spark.range(65536)
      .select(col("id").as("bucket"),
        TextOps.hashWeightU(col("id")).as("w_micro"))
    val a = TextOps.classify(docs).orderBy("doc_id").collect().toSeq
    val b = TextOps.classifyWithWeights(docs, wtab).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("TextOps.dsir: reference fold on a tiny corpus; direction is right") {
    val corpus = Seq((1L, "aa aa", "en"), (2L, "bb bb", "de"), (3L, "", "en"))
    val docs = corpus.toDF("doc_id", "text", "lang")
    def poly(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    def feats(t: String): Seq[Long] = {
      val tk = t.split(" ").filter(_.nonEmpty).toSeq
      tk.map(w => poly(w) % 65536L) ++
        tk.sliding(2).filter(_.size == 2).map(bg => poly(bg.mkString(" ")) % 65536L)
    }
    def snap(x: Double): Long = new java.math.BigDecimal(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    def lnU(x: Double): Long = snap(math.log(x))
    def round6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    val y = Map(1L -> 1L, 2L -> 0L, 3L -> 1L)
    val all = corpus.flatMap { case (id, t, _) => feats(t).map(b => (id, b)) }
    val craw = all.groupBy(_._2).map { case (b, xs) => b -> xs.size.toLong }
    val ctgt = all.groupBy(_._2)
      .map { case (b, xs) => b -> xs.count(x => y(x._1) == 1).toLong }
    val cu = lnU(ctgt.values.sum + 0.5 * 65536) - lnU(craw.values.sum + 0.5 * 65536)
    def want(t: String): Option[Double] = {
      val fs = feats(t)
      if (fs.isEmpty) None
      else {
        val su = fs.map(b => lnU(ctgt(b) + 0.5) - lnU(craw(b) + 0.5)).sum
        Some(round6((su - fs.size * cu).toDouble / 1e6 / fs.size))
      }
    }
    val out = TextOps.dsir(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out(1L) == ((3L, want("aa aa"))))
    assert(out(2L) == ((3L, want("bb bb"))))
    assert(out(3L) == ((0L, None)))
    // the target-only doc must outscore the out-of-domain doc
    assert(out(1L)._2.get > out(2L)._2.get)
  }

  test("TextOps.bpePairs counts word-frequency-weighted char pairs") {
    val docs = Seq((1L, "ab ab abc"), (2L, "ab"), (3L, "x"))
      .toDF("doc_id", "text")
    // ab appears 3x (1 pair each), abc once (pairs ab, bc); "x" has no
    // pair — so merge counts are ab: 4, bc: 1 and the argmax is "ab"
    val out = TextOps.bpePairs(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("ab", 4L), ("bc", 1L)))
  }

  test("TextOps.train learns the language labels (descent across steps)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("y", when(col("lang") === "en", 1).otherwise(0))
    def accuracy(w: org.apache.spark.sql.DataFrame): Double = {
      val scored = TextOps.classifyWithWeights(docs, w)
        .join(docs.select("doc_id", "y"), Seq("doc_id"))
      scored.where((col("label") === "keep") === (col("y") === 1))
        .count().toDouble / scored.count()
    }
    val a1 = accuracy(TextOps.train(docs, "y", iters = 1))
    val a3 = accuracy(TextOps.train(docs, "y", iters = 3))
    // 61% of docs are non-English, so majority-class accuracy is 0.61
    assert(a1 > 0.61, s"one step must beat the majority class: $a1")
    assert(a3 >= a1 - 0.02, s"more steps must not regress: $a1 -> $a3")
  }

  test("TextOps.train (shared feature frame) equals iterated trainStep " +
    "weight-for-weight") {
    // the r14 one-materialization epoch loop must be arithmetic-
    // identical to stepping the public trainStep by hand — pins the
    // shared-frame refactor AND the broadcast-array margin fold
    // against the original exploded-join formulation's values
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("y", when(col("lang") === "en", 1).otherwise(0))
    val fast = TextOps.train(docs, "y", iters = 3)
    var slow = TextOps.zeroWeights(spark)
    for (_ <- 0 until 3) slow = TextOps.trainStep(docs, "y", slow)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    // and the learned table is not the zero init
    assert(fast.where(col("w_micro") =!= 0L).count() > 0)
  }

  test("TextOps.trainStep rejects a sparse/non-dense weight table loudly") {
    // ADVICE r14: the broadcast weight array indexes positionally
    // (element_at(__w, bucket+1)) and assumes dense 0..N-1 coverage; a
    // caller-supplied partial table used to silently misalign weights
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("y", when(col("lang") === "en", 1).otherwise(0))
    val sparseW = TextOps.zeroWeights(spark).where(col("bucket") < 100L)
    val e = intercept[Exception] {
      TextOps.trainStep(docs, "y", sparseW).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("densely")),
      s"expected the dense-table guard, got: ${e.getMessage}")
  }

  test("TextOps.ccnetBucket tertiles order head <= middle <= tail") {
    val docs = (1 to 9).map { i =>
      // increasing novelty: doc i repeats one bigram 10-i times then
      // adds i distinct tokens -> NLL increases with i
      val rep = Seq.fill(10 - i)("r r").mkString(" ")
      val novel = (1 to i).map(j => s"t${i}_$j").mkString(" ")
      (i.toLong, s"$rep $novel")
    }.toDF("doc_id", "text") union Seq((99L, "solo")).toDF("doc_id", "text")
    val rows = TextOps.ccnetBucket(docs).collect()
    val byBucket = rows.filter(!_.isNullAt(1))
      .groupBy(_.getString(2)).map { case (b, rs) =>
        b -> rs.map(_.getDouble(1)) }
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    assert(rows.find(_.getLong(0) == 99L).get.isNullAt(2)) // unscorable
  }

  test("Knn.kmeans assigns vectors to the nearest seeded centroid") {
    // seeds = ids 1,3 (every 2nd): cluster {0,1} near x-axis, {2,3} near y
    val e = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(0.9f, 0.0f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Knn.kmeans(e, 2, iters = 2, centroidEvery = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 3L, 3L -> 3L))
  }

  test("kmeans argmax assignment keeps the window's tie order") {
    // the partial-agg max(struct(cos, -cid)) must replicate ORDER BY
    // cos DESC, cid ASC exactly: a vector equidistant from both
    // centroids ties to the MIN cid. (Zero-norm vectors need no NaN
    // clause: the 0.0-divisor cosine errors under ANSI before either
    // formulation ranks it.)
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)), // seeds (every 2nd)
      (2L, Array(1.0f, 1.0f)))                          // exact tie -> cid 1
      .toDF("vec_id", "embedding")
    val out = Knn.kmeans(e, 2, iters = 1, centroidEvery = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(2L)._1 == 1L, s"tie must break to min cid: $out")
    assert(out(1L) == ((1L, 1.0)) && out(3L) == ((3L, 1.0)))
  }

  test("Knn.labelDrift: identical snapshots cos 1 / shift 0; a rotated one drops") {
    // label 0: both snapshots sit on the x-axis -> cos 1, shift 0.
    // label 1: ref on x, cur on y -> orthogonal centroids, cos 0 and
    // shift sqrt(2). vec_id parity selects the snapshot.
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 1), (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Knn.labelDrift(e, col("vec_id") % 2 === 0).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(0) == ((1L, 1L, 1.0, 0.0)))
    assert(got(1) == ((1L, 1L, 0.0, math.rint(math.sqrt(2.0) * 1e6) / 1e6)))
  }

  test("Knn.labelDrift: a one-sided label reports null drift, not zero") {
    val e = Seq((0L, Array(1.0f, 0.0f), 7), (2L, Array(1.0f, 0.0f), 7))
      .toDF("vec_id", "embedding", "label")  // only even ids -> ref side
    val r = Knn.labelDrift(e, col("vec_id") % 2 === 0).collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("persisted IVF index prunes to probed cells and equals ivfTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Knn.writeIvfIndex(emb, 64, dir)

    val out = Knn.searchIvfIndex(spark, dir, queries, 64, 3)
    val plan = out.queryExecution.executedPlan.toString()
    // the probed-cell predicate reaches the index scan as a partition filter
    assert(SparkTestSession.partitionFilterCols(out).contains("cell"),
      plan.take(1200))

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val want = Knn.ivfTopK(emb, queries, 64, 3).collect().map(key).toSet
    val got = out.collect().map(key).toSet
    assert(got == want)

    // grow the index: an appended exact copy of a query vector (fresh
    // id) lands in the query's own best cell, so it must surface as
    // that query's new top neighbor (cos = 1)
    val probe = queries.orderBy("vec_id").limit(1)
    val clone = probe.select((col("vec_id") + lit(9000000L)).as("vec_id"),
      col("embedding"))
    Knn.appendToIvfIndex(spark, clone, dir, 64)
    val probeId = probe.collect().head.getLong(0)
    val after = Knn.searchIvfIndex(spark, dir, probe, 64, 3)
      .where(col("query_id") === probeId && col("rank") === 1)
      .collect().head
    assert(after.getLong(2) == probeId + 9000000L &&
      after.getDouble(3) == 1.0)
  }

  test("Knn.bruteTopK ranks by cosine") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Knn.bruteTopK(e, e.where($"vec_id" === 0), 2, 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 1L))
  }

  test("Knn.rangeSearch returns exactly the neighbors above the radius") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Knn.rangeSearch(e, e.where($"vec_id" === 0), 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cos(0,1) ~ 0.994 in; cos(0,2) = 0 and cos(0,3) = -1 out; no self
    assert(out == Set((0L, 1L)))
  }

  test("Knn.lshRangeSearch is a subset of the exact radius, same cosines") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" % 100 === 0)
    val exact = Knn.rangeSearch(emb, q, 64, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Knn.lshRangeSearch(emb, q, 64, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    // candidates come from LSH cells, but every surviving pair is
    // exact-cosine verified: a subset of the true radius, cos identical
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (k, c) => exact.get(k).contains(c) })
  }

  test("Knn.lshCandidatesMinTable at min_tb < t ranks as lshTopK(nTables = t)") {
    // emb_lsh_table_curve bands once over 4 tables and reads leg t as
    // min_tb < t: sound only while this equality holds
    val rnd = new scala.util.Random(7)
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" % 20 === 0)
    val cand = Knn.lshCandidatesMinTable(emb, q, 16)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    for (t <- Seq(1, 2, 4)) {
      val fromMin = rows(cand.where(col("min_tb") < t)
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6)))
      val direct = rows(Knn.lshTopK(emb, q, 16, 3, nTables = t))
      assert(direct.nonEmpty, s"t=$t")
      assert(fromMin == direct, s"t=$t")
    }
  }

  test("Multimodal.phashPairs: identical payloads pair at hamming 0") {
    val docs = Seq((1L, "the same picture bytes"), (2L, "the same picture bytes"),
      (3L, "completely different content here")).toDF("doc_id", "text")
    val ph = Multimodal.phashAll(spark, docs).collect()
      .map(p => p.doc_id -> p.phash).toMap
    assert(ph(1L) == ph(2L))
    val pairs = Multimodal.phashPairs(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
    // determinism: re-running yields the same hashes
    assert(Multimodal.phashAll(spark, docs).collect()
      .map(p => p.doc_id -> p.phash).toMap == ph)
  }

  test("Multimodal.phashPairs hot-bucket cap skips oversize cells and " +
    "is inert below it") {
    val docs = (1L to 30L).map(i => (i, s"doc body number ${i % 5}"))
      .toDF("doc_id", "text")
    val default = Multimodal.phashPairs(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default.nonEmpty)
    // a cap far above any cell is a no-op
    val loose = Multimodal.phashPairs(spark, docs, maxBucket = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == default)
    // cap 1: a cross-cluster candidate needs >= 2 DISTINCT hashes in
    // one cell, which makes that cell's df >= 2 > 1 — so the near
    // search goes quiet and EXACTLY the unconditional hamming-0
    // (equal-phash) pairs remain
    val ph = Multimodal.phashAll(spark, docs).collect()
      .map(p => p.doc_id -> p.phash).toMap
    val withinOnly = (for {
      a <- ph.keys; b <- ph.keys
      if a < b && ph(a) == ph(b)
    } yield (a, b)).toSet
    assert(withinOnly.nonEmpty)
    val capped = Multimodal.phashPairs(spark, docs, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == withinOnly)
  }

  test("Multimodal.dedupExact groups byte-identical payloads, keeps min id") {
    val docs = Seq((10L, "same text"), (3L, "same text"), (7L, "other"))
      .toDF("doc_id", "text")
    val got = Multimodal.dedupExact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set((3L, 9L, true), (10L, 9L, false), (7L, 5L, true)))
    // same payload -> same content address
    val shas = Multimodal.dedupExact(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(shas(3L) == shas(10L) && shas(3L) != shas(7L))
  }

  test("Knn.pcaTop finds the dominant direction of an anisotropic cloud") {
    val pts = Seq(
      (1L, Array(3.0f, 1.0f)), (2L, Array(-3.0f, -1.0f)),
      (3L, Array(6.0f, 2.0f)), (4L, Array(-6.0f, -2.0f)),
      (5L, Array(0.2f, -0.6f)), (6L, Array(-0.2f, 0.6f)))
      .toDF("vec_id", "embedding")
    val v = Knn.pcaTop(pts, 2, iters = 5).orderBy("dim").collect()
      .map(_.getDouble(1))
    // variance concentrates along (3,1): the unit top component must
    // align with it (sign is fixed by the deterministic v0)
    val e = Array(3.0 / math.sqrt(10), 1.0 / math.sqrt(10))
    assert(math.abs(v(0) * e(0) + v(1) * e(1)) > 0.999, v.toSeq.toString)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
  }

  test("Knn.sqSearchTopK reproduces the exact brute-force top-3") {
    // int8 quantization + exact rerank preserves the full top-3 on the
    // test embeddings (recall@3 = 1.0, also measured at sf0.01) — and
    // because the rerank stage scores by the SAME exact cosine with
    // the same tie-break, the surviving rows are bit-identical
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" % 100 === 0)
    val sq = Knn.sqSearchTopK(emb, q, 64, 3).orderBy("query_id", "rank")
    val brute = Knn.bruteTopK(emb, q, 64, 3).orderBy("query_id", "rank")
    assert(sq.collect().toSeq == brute.collect().toSeq)
  }

  test("Salted rollup equals plain rollup for decomposable aggs") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
    val plain = Rollup.fixedWindow(ev, "ts", Seq("user_id"), "1h",
      Seq(sum($"value").cast("decimal(38,6)").as("sv"), count(lit(1)).as("n")))
    val salted = Rollup.fixedWindowSalted(ev, "ts", Seq("user_id"), "1h", 8,
      partialAggs = Seq(sum($"value".cast("decimal(38,6)")).as("psv"),
        count(lit(1)).as("pn")),
      finalAggs = Seq(sum($"psv").cast("decimal(38,6)").as("sv"),
        sum($"pn").as("n")))
    assert(plain.count() == salted.count())
    assert(plain.select("user_id", "idx", "n")
      .exceptAll(salted.select("user_id", "idx", "n")).isEmpty)
  }

  test("Convert.indexedToTimeRange recovers fixed-window bounds incl. negative") {
    val df = Seq("5m-4754394").toDF("idx")
    val out5m = Convert.indexedToTimeRange(df, "idx", "5m").head()
    assert(out5m.getLong(0) == 4754394L * 300000000L)
    assert(out5m.getLong(1) == 4754395L * 300000000L)
    val neg = Convert.indexedToTimeRange(Seq("5m--3").toDF("idx"), "idx", "5m").head()
    assert(neg.getLong(0) == -3L * 300000000L)
    assert(neg.getLong(1) == -2L * 300000000L)
  }

  test("Multimodal.audioFeatures: exact window fold, full coverage") {
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    def poly(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val h = poly("hello")
    val n = 64L + h % 64L
    val samples = (0L until n).map(i => ((h * 31 + i) % 1000000007L) % 2001L - 1000L)
    val want = samples.grouped(16).zipWithIndex.map { case (w, idx) =>
      (1L, n, idx.toLong, w.map(s => s * s).sum, w.map(math.abs).max)
    }.toSeq
    val out = Multimodal.audioFeatures(spark, docs).collect()
      .sortBy(_.win_idx)
      .map(a => (a.doc_id, a.n_samples, a.win_idx, a.energy, a.peak)).toSeq
    assert(out == want)
    // every sample is covered exactly once across the windows
    assert(out.size == (n + 15) / 16)
  }

  test("Multimodal.audioDupPairs: payload copies pair at containment 1.0") {
    // ids 1/2 share a payload (all fingerprints equal -> overlap 1.0);
    // id 3 is unrelated and its fingerprints are df-1 -> never a pair
    val docs = Seq((1L, "same clip body"), (2L, "same clip body"),
      (3L, "completely different recording")).toDF("doc_id", "text")
    val got = Multimodal.audioDupPairs(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("Multimodal decode stub is deterministic and batch-shaped") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "xyz"))
      .toDF("doc_id", "text")
    val out = Multimodal.decodeAll(spark, docs).collect().sortBy(_.doc_id)
    assert(out(0).n_bytes == 11)
    assert(out(0).width == out(1).width && out(0).height == out(1).height)
    assert(out(0).width != out(2).width || out(0).height != out(2).height)
    assert(out.forall(m => m.width >= 64 && m.width < 576))
  }

  test("Trend.holtWinters learns a planted weekly season") {
    // 4 exact repeats of a period-7 profile with no trend: by the last
    // cycle the seasonal component must carry the profile's sign and
    // the level must sit near the series mean, trend near zero
    val day = 86400000000L
    val profile = Seq(5.0, -3.0, 0.0, 2.0, -4.0, 1.0, -1.0)
    val rows = (0 until 28).map(t => (1L, t * day, 10.0 + profile(t % 7)))
    val out = Trend.holtWinters(rows.toDF("user_id", "ts", "value"),
      "ts", "value", Seq("user_id"), period = 7, span = 28)
      .collect().sortBy(_.getLong(1))
    val last7 = out.takeRight(7)
    // seasonal tracks the planted profile's sign on every day
    last7.zipWithIndex.foreach { case (r, i) =>
      val planted = profile((21 + i) % 7)
      val s = r.getDouble(5)
      if (planted > 1.0) assert(s > 0, s"day $i: $s vs planted $planted")
      if (planted < -1.0) assert(s < 0, s"day $i: $s vs planted $planted")
    }
    // level near the mean, trend near zero (no planted trend)
    val lastRow = out.last
    assert(math.abs(lastRow.getDouble(3) - 10.0) < 2.0)
    assert(math.abs(lastRow.getDouble(4)) < 1.0)
  }

  test("RangeJoin.coalesceIntervals merges overlap and touch, keeps gaps") {
    // u1: [0,10) ∪ [5,15) ∪ [15,20) chain into one island (overlap
    // then touch); [30,40) stays apart. u2: containment collapses —
    // the running max-end, not the previous end, drives the merge
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L), (1L, 15L, 20L), (1L, 30L, 40L),
      (2L, 0L, 100L), (2L, 10L, 20L), (2L, 90L, 95L))
      .toDF("user_id", "b", "e")
    val out = RangeJoin.coalesceIntervals(iv, Seq("user_id"), "b", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq((1L, 0L, 20L, 3L), (1L, 30L, 40L, 1L),
      (2L, 0L, 100L, 3L)))
  }

  test("coalesceIntervals == brute-force fold on random interval soup") {
    val rnd = new scala.util.Random(11)
    val iv = Seq.fill(60)((rnd.nextInt(3).toLong,
      rnd.nextInt(500).toLong, rnd.nextInt(80).toLong + 1))
      .map { case (k, b, d) => (k, b, b + d) }
    def ref(xs: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
      xs.sorted.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc, (b, e)) => acc.lastOption match {
          case Some((pb, pe, n)) if b <= pe =>
            acc.init :+ ((pb, math.max(pe, e), n + 1))
          case _ => acc :+ ((b, e, 1L))
        }
      }
    val want = iv.groupBy(_._1).toSeq.flatMap { case (k, xs) =>
      ref(xs.map(x => (x._2, x._3))).map(t => (k, t._1, t._2, t._3))
    }.sorted
    val got = RangeJoin.coalesceIntervals(
      iv.toDF("user_id", "b", "e"), Seq("user_id"), "b", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(got == want)
  }

  test("intervalGaps tiles the span: islands + gaps alternate exactly") {
    val rnd = new scala.util.Random(13)
    val iv = Seq.fill(60)((rnd.nextInt(3).toLong,
      rnd.nextInt(500).toLong, rnd.nextInt(60).toLong + 1))
      .map { case (k, b, d) => (k, b, b + d) }
    val df = iv.toDF("user_id", "b", "e")
    val isl = RangeJoin.coalesceIntervals(df, Seq("user_id"), "b", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = RangeJoin.intervalGaps(df, Seq("user_id"), "b", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    iv.map(_._1).distinct.foreach { k =>
      val is = isl.filter(_._1 == k).sortBy(_._2)
      val gs = gaps.filter(_._1 == k).sortBy(_._2)
      // every gap is strictly positive and sits exactly between two
      // consecutive islands; islands + gaps tile [min begin, max end]
      assert(gs.length == is.length - 1)
      gs.zip(is.zip(is.tail)).foreach { case ((_, gb, ge), ((_, _, e1), (_, b2, _))) =>
        assert(gb == e1 && ge == b2 && ge > gb)
      }
      val span = is.last._3 - is.head._2
      val covered = is.map(i => i._3 - i._2).sum + gs.map(g => g._3 - g._2).sum
      assert(covered == span)
    }
  }

  test("Trend.periodogram peaks at the planted frequency") {
    // one user, 32 daily samples of cos(2π·4t/32): all spectral power
    // must land at k=4, nothing at the other frequencies — and the
    // series' +10 offset must NOT leak into k>=1 (integer-k cosines
    // sum to zero over full cycles)
    val day = 86400000000L
    val rows = (0 until 32).map { t =>
      (1L, t * day, 10.0 + math.cos(2.0 * math.Pi * 4 * t / 32))
    }
    val out = Trend.periodogram(rows.toDF("user_id", "ts", "value"),
      "ts", "value", Seq("user_id"), day, maxK = 6)
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(out(4) > 0.2, s"planted k=4 power missing: $out")
    assert((out - 4).values.forall(_ < 0.01),
      s"off-frequency leakage (mean offset leaked?): $out")
  }

  test("Dedup.editVerifiedPairs verdicts match exact Levenshtein") {
    // 30 repeated tokens dominate every simhash bit's vote margin, so
    // the one-char token change (d2) and the rotation (d3) both land
    // at hamming 0 — guaranteed candidates. The verify stage then
    // separates them: d2 is one edit away (dup), d3's rotation costs
    // several token rewrites (not a dup at tau)
    val d1 = Seq.fill(30)("alpha").mkString(" ") + " omega"
    val d2 = Seq.fill(30)("alpha").mkString(" ") + " omegb"
    val d3 = d1.split(' ').reverse.mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.editVerifiedPairs(docs, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(3), r.getBoolean(5)))).toMap
    assert(out((1L, 2L)) == ((1, true)))
    // the rotation costs more edits than tau's per-band DP cap allows,
    // so it surfaces as the capped -1 verdict (or a real distance > 1
    // if within cap) — either way, NOT a dup
    val (d13, dup13) = out((1L, 3L))
    assert((d13 == -1 || d13 > 1) && !dup13,
      "rotated twin must fail char-level verify")
  }

  test("editVerifiedPairs length-gap short-circuit still emits the pair") {
    // same single token => identical simhash (hamming 0, guaranteed
    // candidate) but a 5x length gap far beyond every DP cap: the pair
    // must surface with the capped -1 verdict via the no-text-join
    // branch, exactly as the early-exiting DP would report it
    val d1 = Seq.fill(30)("alpha").mkString(" ")
    val d2 = Seq.fill(150)("alpha").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = Dedup.editVerifiedPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(3), r.get(4), r.getBoolean(5)))).toMap
    assert(out((1L, 2L)) == ((-1, null, false)))
  }
}
