package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Wire
import graft.streaming.{StreamRangeJoin, StreamRollup}
import org.apache.spark.sql.DataFrame
import graft.operators.Rollup
import graft.functions.Aggs

class WireSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("wire format round-trips (series.py to_json shape)") {
    val df = Seq(
      ("s1", 1400425947000000L, 52.0, 34.0),
      ("s1", 1400425948000000L, 18.0, 13.0),
      ("s2", 1400425949000000L, 26.0, 67.0))
      .toDF("name", "ts", "in", "out")
    val docs = Wire.toWireDocs(df, "ts", Seq("in", "out"), Seq("name"),
      col("name"))
    val wires = docs.select("wire").as[String].collect().toSeq
    assert(wires.forall(_.contains("\"columns\":[\"time\",\"in\",\"out\"]")))

    val back = Wire.parse(spark, wires)
    val rows = back.df.orderBy("ts", "name").collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[Long]("ts") == 1400425947000000L)
    assert(rows.head.getAs[Double]("in") == 52.0)
    assert(rows.last.getAs[Double]("out") == 67.0)
  }

  test("wire format reads from files (io/input.py path)") {
    val dir = Files.createTempDirectory("graft_wire").toString
    val doc =
      """{"name": "traffic", "utc": true, "columns": ["time", "value"],
        | "points": [[1471824030000, 0.75], [1471824105000, 2]]}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/series.json"), doc)
    val t = Wire.read(spark, dir)
    val rows = t.df.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[Long]("ts") == 1471824030000000L)
    assert(rows.head.getAs[Double]("value") == 0.75)
  }

  test("arbitrary event frames survive wire write->read bit-identically") {
    // property-style round trip (io/input.py tolerance: wire time is
    // epoch MS, values are JSON numbers): seeded generator covering
    // pre-1970 timestamps, epoch 0, far-future ms, duplicate
    // timestamps within a series, and doubles across 30 orders of
    // magnitude incl. exact negatives and shortest-repr-sensitive
    // fractions. JSON shortest-repr round-trips every finite double
    // exactly, so the comparison is bitwise (exceptAll), not approx.
    val rnd = new scala.util.Random(42)
    val valuePool = Seq(0.0, -1.5, 3.141592653589793, 1e-12, -1e-12,
      6.02e23, -2.5e15, 0.1, 123456.789012, 42.0)
    val tsPool = Seq(-86400000L, 0L, 1400425947000L, 4102444800000L)
    val rows = (1 to 40).flatMap { s =>
      val name = s"series_$s"
      (0 to rnd.nextInt(20)).map { _ =>
        val ms =
          if (rnd.nextBoolean()) tsPool(rnd.nextInt(tsPool.size)) + rnd.nextInt(1000)
          else rnd.between(-1000000000000L, 4000000000000L)
        (name, ms * 1000L, valuePool(rnd.nextInt(valuePool.size)) * (1 + rnd.nextInt(9)))
      }
    }
    val df = rows.toDF("name", "ts", "value")
    val wires = Wire.toWireDocs(df, "ts", Seq("value"), Seq("name"),
      col("name")).select("wire").as[String].collect().toSeq
    assert(wires.length == 40) // one doc per series
    val back = Wire.parse(spark, wires).df.select("name", "ts", "value")
    assert(back.count() == df.count())
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("wire points are time-ordered per doc") {
    val df = Seq(("s", 3000000L, 3.0), ("s", 1000000L, 1.0), ("s", 2000000L, 2.0))
      .toDF("name", "ts", "v")
    val wire = Wire.toWireDocs(df, "ts", Seq("v"), Seq("name"), col("name"))
      .select("wire").as[String].head()
    val idx = Seq("1.0", "2.0", "3.0").map(v => wire.indexOf(s",$v]"))
    assert(idx == idx.sorted && idx.forall(_ >= 0), s"unordered: $wire")
  }
}

class StreamKnnServeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming ANN serving equals the batch index search exactly") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idxDir = Files.createTempDirectory("graft_sknn_idx").toString
    graft.operators.Knn.writeIvfIndex(emb, 64, idxDir)
    val queries = emb.where($"vec_id" % 100 === 0)

    val qDir = Files.createTempDirectory("graft_sknn_q").toString
    val outDir = Files.createTempDirectory("graft_sknn_out").toString
    queries.write.mode("overwrite").parquet(qDir)
    val stream = spark.readStream.schema(queries.schema).parquet(qDir)

    val q = graft.streaming.StreamKnnServe(spark, stream, idxDir, 64, 3) {
      (res, _) => res.write.mode("append").parquet(outDir)
    }
    try q.processAllAvailable() finally q.stop()
    // serving carries NO stream-side state: the index is the only
    // persisted structure, so an unbounded query stream can run
    // forever — assert the query reports zero stateful operators
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "knn serving unexpectedly registered stateful operators")

    val got = spark.read.parquet(outDir)
    val want = graft.operators.Knn.searchIvfIndex(spark, idxDir, queries, 64, 3)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("daily-partitioned layout prunes partitions for time crops") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString
    graft.sources.Lake.writeDaily(ev, "ts", dir)

    val t = graft.sources.Lake.read(spark, dir, "ts", Seq("user_id"))
    val b = 1704672000000000L // 2024-01-08
    val e = 1704844800000000L // 2024-01-10
    val cropped = graft.sources.Lake.cropDaily(t, b, e)

    // partition pruning visible in the plan
    val plan = cropped.df.queryExecution.executedPlan.toString()
    assert(SparkTestSession.partitionFilterCols(cropped.df).contains("dt"),
      plan.take(800))
    // and the result equals a plain row-level crop
    val want = ev.where(col("ts") >= b && col("ts") <= e).count()
    assert(cropped.df.count() == want)
  }

  test("manifest prunes files for key-range reads (and stays correct)") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    // range-partition by the stats column so each file covers a narrow
    // user band — the layout lever that makes skipping effective
    graft.sources.Lake.writeDaily(
      ev.repartitionByRange(4, col("user_id")), "ts", dir)
    graft.sources.Lake.writeManifest(spark, dir, Seq("user_id"))

    val full = spark.read.parquet(dir)
    val pruned = graft.sources.Lake.readManifestPruned(
      spark, dir, "user_id", 3L, 5L)
    // strictly fewer files scanned than the full table holds...
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    assert(pruned.inputFiles.nonEmpty)
    // ...same answer as the unpruned scan, partition column intact
    assert(pruned.columns.contains("dt"))
    val want = full.where(col("user_id").between(3, 5))
    assert(pruned.count() == want.count() && want.count() > 0)
    assert(pruned.agg(sum(col("value"))).head.getDouble(0)
      == want.agg(sum(col("value"))).head.getDouble(0))
    // an empty band returns an empty frame, schema preserved
    val none = graft.sources.Lake.readManifestPruned(
      spark, dir, "user_id", 10000L, 20000L)
    assert(none.isEmpty && none.columns.contains("user_id"))
  }

  test("snapshot versions time-travel: old versions bit-stable after commits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b = Seq((3L, "c")).toDF("id", "s")
    val c = Seq((4L, "d"), (5L, "e")).toDF("id", "s")
    assert(graft.sources.Lake.snapshotAppend(a, dir) == 1)
    assert(graft.sources.Lake.snapshotAppend(b, dir) == 2)
    def ids(v: Int) = graft.sources.Lake.readSnapshot(spark, dir, v)
      .select("id").as[Long].collect().toSet
    assert(ids(1) == Set(1L, 2L))
    assert(ids(2) == Set(1L, 2L, 3L))
    // a third commit leaves every earlier version untouched
    assert(graft.sources.Lake.snapshotAppend(c, dir) == 3)
    assert(ids(1) == Set(1L, 2L) && ids(2) == Set(1L, 2L, 3L))
    assert(ids(3) == Set(1L, 2L, 3L, 4L, 5L))
    // latest resolves to the newest version; version list is complete
    assert(graft.sources.Lake.readSnapshot(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(graft.sources.Lake.snapshotVersions(spark, dir) == Seq(1, 2, 3))
  }

  test("snapshotDeleteWhere rewrites only hit files; expireSnapshots reclaims") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b = Seq((3L, "c"), (4L, "d")).toDF("id", "s")
    assert(graft.sources.Lake.snapshotAppend(a.repartition(1), dir) == 1)
    assert(graft.sources.Lake.snapshotAppend(b.repartition(1), dir) == 2)
    def man(v: Int) = spark.read.parquet(s"$dir/_graft_snapshots/v=$v")
      .select("file_path").as[String].collect().toSet
    def ids(v: Int) = graft.sources.Lake.readSnapshot(spark, dir, v)
      .select("id").as[Long].collect().toSet
    // delete id=3: only commit 2's file contains it
    assert(graft.sources.Lake.snapshotDeleteWhere(spark, dir,
      col("id") === 3L) == 3)
    assert(ids(3) == Set(1L, 2L, 4L))
    // time travel still shows the deleted row in older versions
    assert(ids(2) == Set(1L, 2L, 3L, 4L) && ids(1) == Set(1L, 2L))
    // commit 1's file carried into v3 BY REFERENCE (no rewrite);
    // exactly the one hit file left the live view
    assert(man(1).subsetOf(man(3)))
    assert((man(2) -- man(3)).size == 1)
    // retention: keep only the newest version — the retired hit file
    // is physically deleted, survivors and current reads untouched
    assert(graft.sources.Lake.expireSnapshots(spark, dir, keepLast = 1) == 1)
    assert(graft.sources.Lake.snapshotVersions(spark, dir) == Seq(3))
    assert(graft.sources.Lake.readSnapshot(spark, dir)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // expiring when nothing is expirable is a no-op
    assert(graft.sources.Lake.expireSnapshots(spark, dir, keepLast = 1) == 0)
  }

  test("snapshotMergeInto upserts copy-on-write: matched rows replace, " +
    "new keys insert, untouched files carry by reference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b = Seq((3L, "c"), (4L, "d")).toDF("id", "s")
    assert(graft.sources.Lake.snapshotAppend(a.repartition(1), dir) == 1)
    assert(graft.sources.Lake.snapshotAppend(b.repartition(1), dir) == 2)
    def man(v: Int) = spark.read.parquet(s"$dir/_graft_snapshots/v=$v")
      .select("file_path").as[String].collect().toSet
    def rows(v: Int) = graft.sources.Lake.readSnapshot(spark, dir, v)
      .as[(Long, String)].collect().toSet
    // upsert: id=3 updates (only commit 2's file contains it), id=9
    // inserts
    val up = Seq((3L, "C2"), (9L, "new")).toDF("id", "s")
    assert(graft.sources.Lake.snapshotMergeInto(spark, dir, up, "id") == 3)
    assert(rows(3) == Set((1L, "a"), (2L, "b"), (3L, "C2"),
      (4L, "d"), (9L, "new")))
    // prior versions still show pre-merge rows (time travel intact)
    assert(rows(2) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // commit 1's file carried BY REFERENCE; commit 2's hit file left
    assert(man(1).subsetOf(man(3)))
    assert((man(2) -- man(3)).size == 1)
    // insert-only merge (no matched key) rewrites NOTHING existing
    val ins = Seq((10L, "x")).toDF("id", "s")
    assert(graft.sources.Lake.snapshotMergeInto(spark, dir, ins, "id") == 4)
    assert(man(3).subsetOf(man(4)))
    assert(rows(4) == rows(3) + ((10L, "x")))
    // empty merge commits a pure-reference version
    val none = Seq.empty[(Long, String)].toDF("id", "s")
    assert(graft.sources.Lake.snapshotMergeInto(spark, dir, none, "id") == 5)
    assert(man(5) == man(4) && rows(5) == rows(4))
  }

  test("snapshotMergeInto scale posture: a 5000-key merge over a " +
    "150-file table runs no pinned broadcast and no literal In over " +
    "file paths") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val dir = Files.createTempDirectory("graft_merge_big").toString
    val base = spark.range(0L, 20000L)
      .select(col("id"), concat(lit("v"), col("id")).as("s"))
    // 150 files: the old isin-literal formulation would put ~150 path
    // literals into one In; the old broadcast(keys) pin would leave a
    // ResolvedHint — both must be absent from every analyzed plan the
    // merge executes
    assert(graft.sources.Lake.snapshotAppend(base.repartition(150), dir) == 1)
    val plans = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.analyzed }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ups = spark.range(0L, 10000L, 2L)
      .select(col("id"), lit("U").as("s"))
    try {
      assert(graft.sources.Lake.snapshotMergeInto(spark, dir, ups, "id") == 2)
      // QueryExecutionListener delivery is async (the listener bus is
      // private[spark]); wait until the captured plan count stabilizes.
      // Deadline-bounded (ADVICE r14): a stalled listener bus should
      // fail the test, not hang the suite forever.
      var last = -1; var stable = 0
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (stable < 3) {
        assert(System.nanoTime() < deadline,
          s"listener delivery did not stabilize within 30s (saw $last plans)")
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    // content: 5000 updated keys, 15000 carried rows
    val got = graft.sources.Lake.readSnapshot(spark, dir)
      .as[(Long, String)].collect().toSet
    val want = (0L until 20000L).map(i =>
      if (i < 10000L && i % 2 == 0) (i, "U") else (i, s"v$i")).toSet
    assert(got == want)
    val offenders = plans.synchronized {
      plans.flatMap { p =>
        val hints = p.collect { case h: ResolvedHint => s"hint ${h.hints}" }
        val ins = p.flatMap(_.expressions).flatMap(_.collect {
          case i: In if i.list.size > 100 =>
            s"In over ${i.list.size} literals"
          case i: InSet if i.hset.size > 100 =>
            s"InSet over ${i.hset.size} literals"
        })
        hints ++ ins
      }
    }
    assert(offenders.isEmpty, offenders.distinct.mkString("; "))
  }

  test("snapshotMergeInto on a COMPOSITE key: (tenant, entity) rows " +
    "replace/insert independently per tenant") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge_ck").toString
    val base = Seq(("t1", 1L, "a"), ("t1", 2L, "b"), ("t2", 1L, "x"))
      .toDF("tenant", "id", "s")
    assert(graft.sources.Lake.snapshotAppend(base.repartition(1), dir) == 1)
    // same id=1 under two tenants: only t1's row must be replaced;
    // (t2, 2) is a brand-new composite key even though id=2 exists
    // under t1
    val up = Seq(("t1", 1L, "A"), ("t2", 2L, "y")).toDF("tenant", "id", "s")
    assert(graft.sources.Lake.snapshotMergeInto(spark, dir, up,
      Seq("tenant", "id")) == 2)
    val got = graft.sources.Lake.readSnapshot(spark, dir)
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(("t1", 1L, "A"), ("t1", 2L, "b"),
      ("t2", 1L, "x"), ("t2", 2L, "y")))
    // and the streaming twin groups its latest-per-key window by the
    // composite key: one batch with equal-seq changes under BOTH
    // tenants for id=1
    val sBase = Files.createTempDirectory("graft_cdc_ck").toString
    val b0 = Seq(("t1", 1L, "m", 1L), ("t1", 1L, "n", 2L),
      ("t2", 1L, "p", 1L)).toDF("tenant", "id", "s", "seq")
    b0.coalesce(1).write.parquet(s"$sBase/src/b0")
    val q = graft.sources.Lake.streamMergeInto(
      spark.readStream.schema(b0.schema).parquet(s"$sBase/src/*"),
      s"$sBase/tbl", Seq("tenant", "id"), "seq", s"$sBase/ck",
      Nil, 0, 2, 1)
    try q.processAllAvailable() finally q.stop()
    assert(graft.sources.Lake.readSnapshot(spark, s"$sBase/tbl")
      .as[(String, Long, String)].collect().toSet ==
      Set(("t1", 1L, "n"), ("t2", 1L, "p")))
  }

  test("compactSnapshot: fewer files, identical content, time travel " +
    "across the compact, retention reclaims the fragments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString
    // a fragmented table: 3 commits x 8 files
    for (i <- 0 until 3)
      assert(graft.sources.Lake.snapshotAppend(
        spark.range(i * 100L, i * 100L + 100L)
          .select(col("id"), concat(lit("r"), col("id")).as("s"))
          .repartition(8), dir) == i + 1)
    def man(v: Int) = spark.read.parquet(s"$dir/_graft_snapshots/v=$v")
      .select("file_path").as[String].collect().toSet
    def rows(v: Int) = graft.sources.Lake.readSnapshot(spark, dir, v)
      .as[(Long, String)].collect().toSet
    val before = rows(3)
    assert(man(3).size == 24 && before.size == 300)
    assert(graft.sources.Lake.compactSnapshot(spark, dir, nFiles = 2) == 4)
    // content byte-identical, file count shrunk to the target
    assert(rows(4) == before)
    assert(man(4).size == 2)
    // time travel: the pre-compact versions still read their frozen
    // lists (the compact wrote a FRESH data dir, nothing rewritten)
    assert(rows(3) == before && rows(1).size == 100)
    // retention after compact: the 24 fragments are unreferenced by
    // the surviving version and get physically reclaimed
    assert(graft.sources.Lake.expireSnapshots(spark, dir, keepLast = 1) == 24)
    assert(graft.sources.Lake.snapshotVersions(spark, dir) == Seq(4))
    assert(graft.sources.Lake.readSnapshot(spark, dir)
      .as[(Long, String)].collect().toSet == before)
  }

  test("streamMergeInto compactEvery hook: versions stay bounded, " +
    "content equals the un-maintained stream") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cdc_m").toString
    val src = s"$base/src"; val tbl = s"$base/tbl"; val ck = s"$base/ck"
    val batches = Seq(
      Seq((1L, "a", 1L), (2L, "b", 1L)),
      Seq((2L, "B", 2L), (3L, "c", 1L)),
      Seq((4L, "d", 1L), (1L, "A", 2L)),
      Seq((5L, "e", 1L), (3L, "C", 2L)))
    batches.head.toDF("id", "s", "seq").coalesce(1).write.parquet(s"$src/b0")
    val stream = spark.readStream.schema(
      batches.head.toDF("id", "s", "seq").schema).parquet(s"$src/*")
    val q = graft.sources.Lake.streamMergeInto(stream, tbl, "id", "seq", ck,
      compactEvery = 2, keepLast = 1, compactNFiles = 1)
    try {
      q.processAllAvailable()
      batches.zipWithIndex.drop(1).foreach { case (b, i) =>
        b.toDF("id", "s", "seq").coalesce(1).write.parquet(s"$src/b$i")
        q.processAllAvailable()
      }
    } finally q.stop()
    // 4 merge commits + 2 compacts would be 6 versions unmaintained;
    // the hook expired down to keepLast after each compact
    val vs = graft.sources.Lake.snapshotVersions(spark, tbl)
    assert(vs.size <= 2, s"versions not bounded: $vs")
    // live manifest is the compacted single file... plus at most the
    // post-compact merge commit's additions
    assert(graft.sources.Lake.readSnapshot(spark, tbl)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "B"), (3L, "C"), (4L, "d"), (5L, "e")))
  }

  test("streamMergeInto survives kill-and-restart mid-stream, with " +
    "the maintenance hook on: content equals the uninterrupted run") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cdc_r").toString
    val batches = Seq(
      Seq((1L, "a", 1L), (2L, "b", 1L)),
      Seq((2L, "B", 2L), (3L, "c", 1L)),   // lands while the query is DOWN
      Seq((1L, "A", 2L), (4L, "d", 1L)))
    def run(tag: String, restartAfterFirst: Boolean): Set[(Long, String)] = {
      val src = s"$base/$tag/src"; val tbl = s"$base/$tag/tbl"
      val ck = s"$base/$tag/ck"
      val schema = batches.head.toDF("id", "s", "seq").schema
      def start() = graft.sources.Lake.streamMergeInto(
        spark.readStream.schema(schema).parquet(s"$src/*"),
        tbl, "id", "seq", ck, compactEvery = 2, keepLast = 1)
      batches.head.toDF("id", "s", "seq").coalesce(1)
        .write.parquet(s"$src/b0")
      var q = start()
      try {
        q.processAllAvailable()
        if (restartAfterFirst) {
          // kill, land a batch while down, restart from the SAME
          // checkpoint — foreachBatch is at-least-once, so the restart
          // may REPLAY the last batch into the snapshot table; the
          // content-idempotence contract (an upsert re-applied replaces
          // rows with themselves) is exactly what this pins
          q.stop()
          batches(1).toDF("id", "s", "seq").coalesce(1)
            .write.parquet(s"$src/b1")
          q = start()
          q.processAllAvailable()
        } else {
          batches(1).toDF("id", "s", "seq").coalesce(1)
            .write.parquet(s"$src/b1")
          q.processAllAvailable()
        }
        batches(2).toDF("id", "s", "seq").coalesce(1)
          .write.parquet(s"$src/b2")
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.Lake.readSnapshot(spark, tbl)
        .as[(Long, String)].collect().toSet
    }
    val uninterrupted = run("plain", restartAfterFirst = false)
    val restarted = run("restart", restartAfterFirst = true)
    val want = Set((1L, "A"), (2L, "B"), (3L, "c"), (4L, "d"))
    assert(uninterrupted == want, s"uninterrupted: $uninterrupted")
    assert(restarted == want, s"restarted: $restarted")
  }

  test("streamMergeInto explicit tiebreakCols: non-orderable payload " +
    "columns ride along when the tiebreak list is orderable") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cdc_t").toString
    val src = s"$base/src"; val tbl = s"$base/tbl"; val ck = s"$base/ck"
    // payload carries a MapType column — the default all-column
    // tiebreak would fail at analysis (maps are not orderable); the
    // explicit orderable tiebreak list makes the feed legal. Two
    // EQUAL-seq changes for id=1: the ascending 's' sort picks "x1"
    // deterministically.
    val b0 = Seq((1L, "x2", Map("k" -> 2L), 1L), (1L, "x1", Map("k" -> 1L), 1L),
      (2L, "y", Map("k" -> 9L), 1L)).toDF("id", "s", "m", "seq")
    b0.coalesce(1).write.parquet(s"$src/b0")
    val q = graft.sources.Lake.streamMergeInto(
      spark.readStream.schema(b0.schema).parquet(s"$src/*"),
      tbl, "id", "seq", ck, tiebreakCols = Seq("s"))
    try q.processAllAvailable() finally q.stop()
    val got = graft.sources.Lake.readSnapshot(spark, tbl)
      .select("id", "s").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x1"), (2L, "y")))
  }

  test("streamMergeInto applies CDC micro-batches: latest change per " +
    "key wins, earlier versions stay readable") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val src = s"$base/src"; val tbl = s"$base/tbl"; val ck = s"$base/ck"
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "seq")
    // batch 2 carries TWO changes for id=2 — seq picks the later one
    val b1 = Seq((2L, "B", 2L), (2L, "B2", 3L), (9L, "x", 1L))
      .toDF("id", "s", "seq")
    // one file per batch: a multi-part write can be LISTED mid-write,
    // splitting a CDC batch across triggers and reordering a key's
    // changes (the documented cross-trigger caveat) — flaky here
    b0.coalesce(1).write.parquet(s"$src/b0")
    val stream = spark.readStream.schema(b0.schema).parquet(s"$src/*")
    val q = graft.sources.Lake.streamMergeInto(stream, tbl, "id", "seq", ck)
    try {
      q.processAllAvailable()
      b1.coalesce(1).write.parquet(s"$src/b1")
      q.processAllAvailable()
    } finally q.stop()
    def rows(v: Int) = graft.sources.Lake.readSnapshot(spark, tbl, v)
      .as[(Long, String)].collect().toSet
    val vs = graft.sources.Lake.snapshotVersions(spark, tbl)
    assert(vs == Seq(1, 2), s"versions $vs")
    assert(rows(2) == Set((1L, "a"), (2L, "B2"), (9L, "x")))
    // the bootstrap commit is still readable pre-merge
    assert(rows(1) == Set((1L, "a"), (2L, "b")))
  }

  test("z-ordered layout skips files on BOTH clustering columns") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    graft.sources.Lake.writeZOrdered(ev, Seq("user_id", "value"), dir, 16)

    val full = spark.read.parquet(dir)
    val nFull = full.inputFiles.length
    assert(nFull > 4, s"expected a multi-file layout, got $nFull")
    // same bytes, just clustered
    assert(full.count() == ev.count())

    // a narrow band on EITHER column must skip files — the property a
    // single-column range sort cannot deliver for the second column
    for ((c, lo, hi) <- Seq(("user_id", 3.0, 4.0), ("value", 10.0, 30.0))) {
      val pruned = graft.sources.Lake.readManifestPruned(spark, dir, c, lo, hi)
      assert(pruned.inputFiles.length < nFull,
        s"$c band read ${pruned.inputFiles.length}/$nFull files")
      val want = full.where(col(c) >= lo && col(c) <= hi)
      assert(pruned.count() == want.count() && want.count() > 0,
        s"$c band: ${pruned.count()} vs ${want.count()}")
    }
  }

  test("streamAppendDaily lands a stream in the partitioned layout") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lsrc").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lout").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_lck").toString
    ev.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val q = graft.sources.Lake.streamAppendDaily(stream, "ts", outDir, ckDir)
    try q.processAllAvailable() finally q.stop()

    // the streamed table IS the batch lake layout: dt directories
    // exist, partition pruning applies, content matches the input
    val dts = new java.io.File(outDir).listFiles
      .filter(_.getName.startsWith("dt=")).map(_.getName)
    assert(dts.length > 1, dts.toSeq.toString)
    val t = graft.sources.Lake.read(spark, outDir, "ts", Seq("user_id"))
    val b = 1704672000000000L // 2024-01-08
    val e = 1704844800000000L // 2024-01-10
    val cropped = graft.sources.Lake.cropDaily(t, b, e)
    val plan = cropped.df.queryExecution.executedPlan.toString()
    assert(SparkTestSession.partitionFilterCols(cropped.df).contains("dt"),
      plan.take(500))
    assert(t.df.count() == ev.count())
    assert(cropped.df.count() ==
      ev.where(col("ts") >= b && col("ts") <= e).count())
  }

  test("backfillDaily replaces only the touched day partitions") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_backfill").toString
    graft.sources.Lake.writeDaily(ev, "ts", dir)
    val before = spark.read.parquet(dir)
    // dt is partition-inferred as DATE on read; compare as its string form
    val day = before.select(min(col("dt")).cast("string")).head.getString(0)
    val othersBefore = before.where(col("dt") =!= day)
      .agg(count(lit(1)), sum(col("value"))).head

    // correct that one day: same rows, values doubled
    val corrected = ev
      .where(graft.functions.TimeIndex.dailyIndex(col("ts")) === day)
      .withColumn("value", col("value") * 2)
    graft.sources.Lake.backfillDaily(corrected, "ts", dir)

    val after = spark.read.parquet(dir)
    // the touched day carries the corrected values...
    assert(math.abs(
      after.where(col("dt") === day).agg(sum(col("value"))).head.getDouble(0)
        - corrected.agg(sum(col("value"))).head.getDouble(0)) < 1e-6)
    // ...and every other day is byte-for-byte what it was
    assert(after.where(col("dt") =!= day)
      .agg(count(lit(1)), sum(col("value"))).head == othersBefore)
  }

  test("mergeIntoRollup maintains an exact rollup across late batches") {
    import graft.functions.TimeIndex
    val ev = TimeIndex.normalizeUs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    val d1 = ev.select(min(TimeIndex.dailyIndex(col("ts")))).head.getString(0)
    val firstDay = ev.where(TimeIndex.dailyIndex(col("ts")) === d1)
    // three batches whose union is exactly ev: half of day 1, the
    // rest of the range, then the LATE other half of day 1
    graft.sources.Lake.mergeIntoRollup(
      firstDay.where(col("ts") % 2 === 0), "ts", "value",
      Seq("user_id"), "1h", dir)
    graft.sources.Lake.mergeIntoRollup(
      ev.where(TimeIndex.dailyIndex(col("ts")) =!= d1), "ts", "value",
      Seq("user_id"), "1h", dir)
    graft.sources.Lake.mergeIntoRollup(
      firstDay.where(col("ts") % 2 =!= 0), "ts", "value",
      Seq("user_id"), "1h", dir)

    val got = graft.sources.Lake.readRollup(spark, dir, Seq("user_id"))
      .select("user_id", "idx", "cnt", "sum_value", "avg_value",
        "min_value", "max_value")
    val sumD = sum(col("value").cast("decimal(38,6)")).cast("double")
    val want = ev.groupBy(col("user_id"),
        TimeIndex.indexOf(col("ts"), "1h").as("idx"))
      .agg(count(col("value")).as("cnt"), sumD.as("sum_value"),
        round(sumD / count(col("value")), 6).as("avg_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("compactDaily collapses a fragmented day; content and other days intact") {
    val ev = graft.functions.TimeIndex.normalizeUs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // simulate a fragmented ingest: 16 writers per day partition
    graft.sources.Lake.writeDaily(ev.repartition(16), "ts", dir)
    def files(day: String): Int =
      new java.io.File(s"$dir/dt=$day")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val days = spark.read.parquet(dir)
      .select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val (target, other) = (days.head, days.last)
    val beforeRows = spark.read.parquet(dir)
      .select(col("user_id"), col("ts"), col("value")).collect().toSet
    val otherFilesBefore = files(other)
    assert(files(target) > 1, "fixture must start fragmented")

    graft.sources.Lake.compactDaily(spark, dir, Seq(target))

    assert(files(target) == 1, s"day $target should compact to one file")
    assert(files(other) == otherFilesBefore, "untouched day rewritten")
    val afterRows = spark.read.parquet(dir)
      .select(col("user_id"), col("ts"), col("value")).collect().toSet
    assert(afterRows == beforeRows, "compaction must not change content")
  }

  test("bucketed tables join and aggregate with zero runtime exchange") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")
    graft.sources.Lake.writeBucketed(ev, "user_id", 4, "ev_a")
    graft.sources.Lake.writeBucketed(
      ev.groupBy("user_id").agg(count(lit(1)).as("n")), "user_id", 4, "ev_b")

    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_a").join(spark.table("ev_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString()
      // the write-time shuffle replaces both runtime exchanges
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() == ev.count())

      val agg = spark.table("ev_a").groupBy("user_id")
        .agg(sum(col("value")).as("sv"))
      assert(!agg.queryExecution.executedPlan.toString().contains("Exchange"))
      assert(agg.count() == ev.select("user_id").distinct().count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("signature store dedups a new batch; store side never re-shuffles") {
    import graft.operators.{Dedup, TextOps}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    Dedup.writeSignatureStore(corpus, "sig_store", nBuckets = 8)

    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.dedupAgainstStore(spark, batch, "sig_store")
      val plan = out.queryExecution.executedPlan.toString()
      // the store scan is bucketed on the join key (write-time shuffle
      // reused)...
      assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
      // ...so the whole pipeline carries exactly the 4 batch-side
      // exchanges (signature agg, semi-join batch side, hit-id
      // distinct, anti-join batch side) — a 5th would mean the store
      // side shuffled
      val nEx = plan.linesIterator.count(_.contains("Exchange"))
      assert(nEx <= 4, s"$nEx exchanges:\n${plan.take(2000)}")

      // dropped == exactly the batch docs LSH-paired with a corpus doc
      val pairs = Dedup.minhashCandidates(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val wantDrop = pairs.flatMap { case (a, b) =>
        Seq((a, b), (b, a)).collect {
          case (x, y) if batchIds(x) && corpusIds(y) => x
        }
      }.toSet
      val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == batchIds -- wantDrop)

      // after ingesting the batch's keys, a replayed batch dedups down
      // to only docs that produce no band key (too short to shingle)
      Dedup.appendToSignatureStore(batch, "sig_store", nBuckets = 8)
      val keyless = batch
        .where(size(TextOps.shingleIds(col("text"), 3)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val replay = Dedup.dedupAgainstStore(spark, batch, "sig_store")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(replay == keyless)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("batch ingest gates, dedups intra- and cross-batch, grows the store") {
    import graft.operators.{Dedup, Ingest, TextOps}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val b1 = docs.where(col("doc_id") % 2 === 0)
    // batch 2: the odd docs plus exact-text replays of early b1 docs
    // under fresh ids — the cross-batch dups the store must catch
    val replays = docs.where(col("doc_id") % 2 === 0 && col("doc_id") < 40)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val b2 = docs.where(col("doc_id") % 2 === 1).unionByName(replays)
    spark.sql("DROP TABLE IF EXISTS ingest_store")

    val a1 = Ingest.batch(spark, b1, "ingest_store", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // against an empty store the pipeline is gate + intra-batch dedup:
    // recompose from the verified stages
    val gated = b1.join(TextOps.classify(b1).where(col("label") === "keep")
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val later = Dedup.minhashCandidates(gated)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val want1 = gated.select("doc_id").collect().map(_.getLong(0)).toSet -- later
    assert(a1 == want1)

    val a2 = Ingest.batch(spark, b2, "ingest_store", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a replayed text whose original entered the corpus (and shingles,
    // so it bands) must be rejected by the store join
    val shingled = docs
      .where(size(TextOps.shingleIds(col("text"), 3)) > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mustDrop = a1.filter(id => id < 40 && shingled(id)).map(_ + 1000000L)
    assert(mustDrop.nonEmpty && a2.intersect(mustDrop).isEmpty)

    // replaying batch 1 wholesale: everything that bands is now known
    val a3 = Ingest.batch(spark, b1, "ingest_store", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a3.forall(id => !shingled(id)))
  }

  test("streaming ingest equals sequential batch ingest (durable store)") {
    import graft.operators.Ingest
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val b1 = docs.where(col("doc_id") < 250)
    val replays = b1.where(col("doc_id") < 40)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val b2 = docs.where(col("doc_id") >= 250 && col("doc_id") < 400)
      .unionByName(replays)

    val src = Files.createTempDirectory("graft_ing_src").toString
    val corpus = Files.createTempDirectory("graft_ing_out").toString
    val ckpt = Files.createTempDirectory("graft_ing_ck").toString
    spark.sql("DROP TABLE IF EXISTS stream_ingest_store")
    b1.write.mode("append").parquet(src)
    val q = Ingest.stream(
      spark.readStream.schema(b1.schema).parquet(src),
      "stream_ingest_store", corpus, ckpt, nBuckets = 8)
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // the same two batches through the batch pipeline on a fresh store
    spark.sql("DROP TABLE IF EXISTS stream_ingest_ref")
    val r1 = Ingest.batch(spark, b1, "stream_ingest_ref", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val r2 = Ingest.batch(spark, b2, "stream_ingest_ref", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (r1 ++ r2))
    // and the late replay of an ingested text was caught cross-batch
    assert(r1.exists(id => got.contains(id)) &&
      !got.exists(_ >= 1000000L))
  }
}

class StreamRollupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming fixed-window rollup matches batch rollup") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")

    // stage as a streaming source dir
    val dir = Files.createTempDirectory("graft_stream").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val rolled = StreamRollup.fixedWindow(stream, "ts", Seq("user_id"), "1h",
      watermark = "1 hour",
      aggs = Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))

    val q = rolled.writeStream.outputMode("complete")
      .format("memory").queryName("rollup_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("rollup_test")
      .select("user_id", "idx", "n", "sv")
    val want = Rollup.fixedWindow(batch, "ts", Seq("user_id"), "1h",
      Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sliding-window rollup matches batch slidingWindow") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_slide").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val rolled = StreamRollup.slidingWindow(stream, "ts", Seq("user_id"),
      size = "2h", slide = "1h", watermark = "1 hour",
      aggs = Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))
    val q = rolled.writeStream.outputMode("complete")
      .format("memory").queryName("slide_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("slide_test")
      .select("user_id", "ts_begin", "ts_end", "n", "sv")
    val want = Rollup.slidingWindow(batch, "ts", Seq("user_id"), "2h", "1h",
      Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))
      .select("user_id", "ts_begin", "ts_end", "n", "sv")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming M4 downsample matches batch Trend.m4 exactly") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_m4").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val m4 = graft.streaming.StreamM4.m4(stream, "ts", "value",
      Seq("user_id"), "1h", watermark = "1 hour")
    val q = m4.writeStream.outputMode("complete")
      .format("memory").queryName("m4_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("m4_test")
    val want = graft.operators.Trend.m4(batch, "ts", "value",
      Seq("user_id"), "1h")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming PSI drift equals the batch formulation; shifts alarm") {
    import spark.implicits._
    val m = 60L * 1000000L
    // hour 0 tracks the 80/20 reference; hour 1 collapses into bin 1
    val rows =
      (0 until 8).map(i => (1L, i * m, 1.0)) ++
      (0 until 2).map(i => (1L, (10 + i) * m, 30.0)) ++
      (0 until 10).map(i => (1L, (60 + i) * m, 30.0))
    val batch = rows.toDF("user_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_drift").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val ref = Seq(0.8, 0.2)

    val drifted = graft.streaming.StreamDrift.psi(stream, "ts", "value",
      Seq("user_id"), "1h", watermark = "1 hour", ref, binWidth = 25.0)
    val q = drifted.writeStream.outputMode("complete")
      .format("memory").queryName("drift_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("drift_test")

    // withWatermark is a no-op on a batch frame: same code path
    val want = graft.streaming.StreamDrift.psi(batch, "ts", "value",
      Seq("user_id"), "1h", watermark = "1 hour", ref, binWidth = 25.0)
    assert(got.count() == 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    val byWin = got.collect().map(r =>
      r.getAs[Long]("ts_begin") -> r.getAs[Double]("psi")).toMap
    assert(byWin(0L) < 0.05)              // tracks the reference
    assert(byWin(3600L * 1000000L) > 1.0) // full-bin collapse alarms
  }

  test("streaming CMS grid equals the batch grid; probes never undercount") {
    import spark.implicits._
    val base = 1704067200000000L
    val texts = Seq("a b c a b a", "d e a b", "c c c d", "a f g h")
    val batch = texts.zipWithIndex
      .map { case (t, i) => (base + i * 60L * 1000000L, t) }
      .toDF("ts", "text")
    val dir = Files.createTempDirectory("graft_scms").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val grid = graft.streaming.StreamFreq.cmsGrid(stream, "ts", "text",
      "1h", watermark = "10 minutes")
    val q = grid.writeStream.outputMode("complete")
      .format("memory").queryName("cms_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cms_test")

    // withWatermark is a no-op on a batch frame: same code path
    val want = graft.streaming.StreamFreq.cmsGrid(batch, "ts", "text",
      "1h", watermark = "10 minutes")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // probe the single window's grid: estimates never undercount
    val cells = got.collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Long]("bk")) -> r.getAs[Long]("c"))
      .toMap
    val exact = Map("a" -> 5L, "c" -> 4L, "b" -> 3L, "h" -> 1L, "z" -> 0L)
    exact.foreach { case (tok, n) =>
      assert(graft.streaming.StreamFreq.estimate(cells, tok) >= n,
        s"CMS probe undercounted '$tok'")
    }
  }

  test("streaming value histogram equals the batch bucketing exactly") {
    import spark.implicits._
    val base = 1704067200000000L
    // two 1h windows, two groups, values straddling bucket edges and
    // the clamp (505 -> top bucket, -3 -> bucket 0)
    val rows = Seq(
      (base + 1L, "view", 10.0), (base + 2L, "view", 24.999),
      (base + 3L, "view", 25.0), (base + 4L, "click", 505.0),
      (base + 5L, "click", -3.0),
      (base + 3600L * 1000000L + 1L, "view", 49.0))
    val batch = rows.toDF("ts", "event_type", "value")
    val dir = Files.createTempDirectory("graft_shist").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val hist = graft.streaming.StreamHist.histogram(stream, "ts", "value",
      "event_type", "1h", watermark = "10 minutes")
    val q = hist.writeStream.outputMode("complete")
      .format("memory").queryName("shist_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("shist_test")

    // withWatermark is a no-op on a batch frame: same code path
    val want = graft.streaming.StreamHist.histogram(batch, "ts", "value",
      "event_type", "1h", watermark = "10 minutes")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // spot-pin the clamp semantics against hand counts
    val cells = got.collect().map(r => (r.getAs[Long]("ts_begin"),
      r.getAs[String]("event_type"), r.getAs[Int]("bucket"))
      -> r.getAs[Long]("n")).toMap
    assert(cells((base, "view", 0)) == 2L)   // 10.0, 24.999
    assert(cells((base, "view", 1)) == 1L)   // 25.0 lands in [25,50)
    assert(cells((base, "click", 19)) == 1L) // 505 clamps to top
    assert(cells((base, "click", 0)) == 1L)  // -3 clamps to bottom
  }

  test("streaming SLO burn equals the batch windows; breach is integer-exact") {
    import spark.implicits._
    val base = 1704067200000000L
    // window 1: 2 errors / 10 events = 20% > 10% SLO -> breach;
    // window 2: exactly AT the objective (1/10) -> NOT a breach
    // (strict >; the cross-multiplied verdict can't half-round)
    val rows = (0 until 10).map(i =>
      (base + i * 1000000L, 7L, if (i < 2) "error" else "view")) ++
      (0 until 10).map(i =>
        (base + 3600L * 1000000L + i * 1000000L, 7L,
          if (i < 1) "error" else "view"))
    val batch = rows.toDF("ts", "user_id", "event_type")
    val dir = Files.createTempDirectory("graft_sslo").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val q = graft.streaming.StreamSlo.burn(stream, "ts", "event_type",
        "user_id", "1h", watermark = "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sslo_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sslo_test")

    // withWatermark is a no-op on a batch frame: same code path
    val want = graft.streaming.StreamSlo.burn(batch, "ts", "event_type",
      "user_id", "1h", watermark = "10 minutes")
    assert(got.count() == 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val byWin = got.collect().map(r => r.getAs[Long]("ts_begin") ->
      (r.getAs[Double]("burn_rate"), r.getAs[Boolean]("breach"))).toMap
    assert(byWin(base) == ((2.0, true)))
    assert(byWin(base + 3600L * 1000000L) == ((1.0, false)))
  }

  test("streaming coverage scorecard equals the batch windows; whole is integer-exact") {
    import spark.implicits._
    val base = 1704067200000000L
    val M5 = 5L * 60L * 1000000L
    // user 1: perfect 5m cadence over the hour (12 points, expected
    // 12) -> whole; user 2: same span with 4 of 12 missing (expected
    // 12, n 8, coverage 0.666667) -> not whole at 90%
    val rows = (0 until 12).map(i => (base + i * M5, 1L)) ++
      (0 until 12).filter(i => i % 3 != 1).map(i => (base + i * M5, 2L))
    val batch = rows.toDF("ts", "user_id")
    val dir = Files.createTempDirectory("graft_scov").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val q = graft.streaming.StreamCoverage.scorecard(stream, "ts",
        "user_id", "1h", watermark = "10 minutes", cadenceUs = M5)
      .writeStream.outputMode("complete")
      .format("memory").queryName("scov_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("scov_test")

    // withWatermark is a no-op on a batch frame: same code path
    val want = graft.streaming.StreamCoverage.scorecard(batch, "ts",
      "user_id", "1h", watermark = "10 minutes", cadenceUs = M5)
    assert(got.count() == 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val byKey = got.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[Long]("expected"), r.getAs[Double]("coverage"),
        r.getAs[Boolean]("whole"))).toMap
    assert(byKey(1L) == ((12L, 1.0, true)))
    assert(byKey(2L) == ((12L, 0.666667, false)))
  }

  test("streaming churn verdicts: own-event and watermark-silence triggers") {
    import spark.implicits._
    val W = 10L * 1000000L // 10s "weeks" (the calendar is a parameter)
    // u1 active weeks 0,1,2; u2 active 0,3 (the week-3 event decides
    // week 0 churned=true immediately); u3 active week 1 only (only
    // the watermark can decide it)
    val b1 = Seq((1L, 1000000L), (1L, 12000000L), (1L, 22000000L),
      (2L, 2000000L), (2L, 32000000L), (3L, 15000000L))
      .toDF("user_id", "ts")
    // sentinels: each pushes the watermark so the PREVIOUS batch's
    // pending timeouts fire on the next one (watermark advances at
    // batch N+1 from batch N's max event time)
    val b2 = Seq((99L, 200000000L)).toDF("user_id", "ts")
    val b3 = Seq((98L, 300000000L)).toDF("user_id", "ts")

    val (out, ps) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      s => graft.streaming.StreamChurn(spark, s, epochUs = 0L, weekUs = W,
        watermark = "1 second").toDF(),
      "append", "churn_stream")
    assert(StreamHarness.lateDrops(ps) == 0)
    val got = out.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("week_num"),
        r.getAs[Boolean]("churned"))).toSet
    // u1: weeks 0,1 decided by own events (retained), week 2 by
    // silence; u2: week 0 by the gap to week 3, week 3 by silence;
    // u3: week 1 by silence; u99's silence fires in the no-data batch
    // Spark runs after b3's watermark advance. u98 right-censored
    // (the watermark has not closed its successor week) — exactly the
    // week batch q_churn also refuses to judge.
    assert(got == Set((1L, 0L, false), (1L, 1L, false), (1L, 2L, true),
      (2L, 0L, true), (2L, 3L, true), (3L, 1L, true), (99L, 20L, true)))

    // the weekly rollup over verdicts is the batch operator's shape
    val roll = graft.streaming.StreamChurn.weeklyRollup(out)
      .collect().map(r => r.getAs[Long]("week_num") ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_churned"),
          r.getAs[Double]("churn_rate"))).toMap
    assert(roll(0L) == ((2L, 1L, 0.5)))
    assert(roll(1L) == ((2L, 1L, 0.5)))
    assert(roll(2L) == ((1L, 1L, 1.0)))
    assert(roll(3L) == ((1L, 1L, 1.0)))
    assert(roll(20L) == ((1L, 1L, 1.0)))
  }

  test("streaming funnel verdicts: conversion fires instantly, abandonment on deadline") {
    import spark.implicits._
    val S = 1000000L // 1s in µs; span = 10s
    // u1 converts (view 1s, click 5s <= 11s, purchase 12s <= 15s);
    // u2's click misses the window (20s > 12s) -> stage 1 on deadline;
    // u3 clicks but never buys -> stage 2 on deadline; u4 never views
    // -> NO state, NO verdict; u5's same-ts click is rejected by the
    // strict > (batch bound), its 6s click qualifies -> stage 2
    val b1 = Seq(
      (1L, 1 * S, "view"), (1L, 5 * S, "click"), (1L, 12 * S, "purchase"),
      (2L, 2 * S, "view"), (2L, 20 * S, "click"),
      (3L, 3 * S, "view"), (3L, 8 * S, "click"),
      (4L, 1 * S, "click"),
      (5L, 4 * S, "view"), (5L, 4 * S, "click"), (5L, 6 * S, "click"))
      .toDF("user_id", "ts", "event_type")
    val b2 = Seq((99L, 100 * S, "view")).toDF("user_id", "ts", "event_type")
    val b3 = Seq((98L, 200 * S, "view")).toDF("user_id", "ts", "event_type")

    val (out, ps) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      s => graft.streaming.StreamFunnel(spark, s, spanUs = 10 * S,
        watermark = "1 second").toDF(),
      "append", "funnel_stream")
    assert(StreamHarness.lateDrops(ps) == 0)
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
    val got = out.collect().map(r => (r.getAs[Long]("user_id"),
      r.getAs[Int]("stage"), opt(r, "t1"), opt(r, "t2"), opt(r, "t3"))).toSet
    assert(got == Set(
      (1L, 3, Some(1 * S), Some(5 * S), Some(12 * S)),
      (2L, 1, Some(2 * S), None, None),
      (3L, 2, Some(3 * S), Some(8 * S), None),
      (5L, 2, Some(4 * S), Some(6 * S), None),
      (99L, 1, Some(100 * S), None, None))) // u98 right-censored

    // the global rollup over verdicts is the batch q_funnel shape
    val roll = graft.streaming.StreamFunnel.rollup(out).collect()(0)
    assert(roll.getAs[Long]("n_view") == 5L)
    assert(roll.getAs[Long]("n_click") == 3L)
    assert(roll.getAs[Long]("n_buy") == 1L)
    assert(roll.getAs[Double]("conv") == 0.2)
  }

  test("streaming DAU equals batch distinct counts; stickiness fold is day-additive") {
    import spark.implicits._
    val D = 86400000000L
    val base = 1704067200000000L // day-aligned
    // day 0: users 1,2,3 (u1 twice -> deduped); day 1: users 1,2
    val b1 = Seq((1L, base + 1000L), (1L, base + 2000L),
      (2L, base + 3000L), (3L, base + 4000L),
      (1L, base + D + 1000L), (2L, base + D + 2000L))
      .toDF("user_id", "ts")
    // sentinels push the watermark past day 0 then day 1
    val b2 = Seq((99L, base + 3 * D)).toDF("user_id", "ts")
    val b3 = Seq((98L, base + 6 * D)).toDF("user_id", "ts")

    val (out, ps) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      s => graft.streaming.StreamStickiness.daily(s),
      "append", "sdau_stream")
    assert(StreamHarness.lateDrops(ps) == 0)
    val got = out.collect().map(r => r.getAs[Long]("day_begin") ->
      r.getAs[Long]("dau")).toMap
    assert(got(base) == 3L)      // day 0: u1 deduped
    assert(got(base + D) == 2L)  // day 1
    assert(got(base + 3 * D) == 1L) // sentinel day closed by b3

    // the trailing-7 fold over closed days: day-additive by contract
    val st = graft.streaming.StreamStickiness.stickiness(out)
      .collect().map(r => r.getAs[Long]("day_begin") ->
        (r.getAs[Long]("trailing7"), r.getAs[Double]("ratio"))).toMap
    assert(st(base) == ((3L, 1.0)))
    assert(st(base + D) == ((5L, 0.4)))
    assert(st(base + 3 * D) == ((6L, 0.166667)))
  }

  test("DAU is exact across same-day gaps at the 25h default; a short " +
    "watermark degrades to activity sessions as documented") {
    import spark.implicits._
    val D = 86400000000L
    val H = 3600000000L
    val base = 1704067200000000L
    // u1 active at 00:00, then again at 12:30 the same day but in the
    // NEXT microbatch, after b1's 13:00 event has advanced a "1 hour"
    // watermark to 12:00 (the dup sits strictly ABOVE it, so it is
    // not late-dropped) — past u1's (user, day) state expiry at
    // 01:00 under the short delay, well inside the 25h default
    val b1 = Seq((1L, base), (2L, base + H),
      (3L, base + 13 * H)).toDF("user_id", "ts")
    val b2 = Seq((1L, base + 12 * H + H / 2)).toDF("user_id", "ts")
    val b3 = Seq((99L, base + 3 * D)).toDF("user_id", "ts")
    val b4 = Seq((98L, base + 6 * D)).toDF("user_id", "ts")

    val (exact, ps1) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3, b4),
      s => graft.streaming.StreamStickiness.daily(s),
      "append", "sdau_exact")
    assert(StreamHarness.lateDrops(ps1) == 0)
    val gotExact = exact.collect().map(r => r.getAs[Long]("day_begin") ->
      r.getAs[Long]("dau")).toMap
    assert(gotExact(base) == 3L, // u1 deduped across the 12h gap
      s"25h-watermark DAU must equal batch distinct: $gotExact")

    // the documented degradation: u1's two activity sessions both count
    val (loose, _) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3, b4),
      s => graft.streaming.StreamStickiness.daily(s, watermark = "1 hour"),
      "append", "sdau_loose")
    val gotLoose = loose.collect().map(r => r.getAs[Long]("day_begin") ->
      r.getAs[Long]("dau")).toMap
    assert(gotLoose(base) == 4L,
      s"1h-watermark DAU is session counts (upper bound): $gotLoose")
  }

  test("streaming transitions chain across batches; matrix equals q_transitions") {
    import spark.implicits._
    val S = 1000000L
    // u1's purchase and u2's second view arrive in batch 2 — the
    // stored last event must bridge the batch boundary; u3 has a
    // single event (no edge); u2's two views tie-break on event_id
    val b1 = Seq(
      (1L, 10 * S, 1L, "view"), (1L, 20 * S, 2L, "click"),
      (2L, 10 * S, 4L, "view"),
      (3L, 5 * S, 6L, "error"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val b2 = Seq(
      (1L, 30 * S, 3L, "purchase"),
      (2L, 15 * S, 5L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")

    val (out, ps) = StreamHarness.feedBatches(spark, Seq(b1, b2),
      s => graft.streaming.StreamTransitions(spark, s,
        watermark = "1 second").toDF(),
      "append", "trans_stream")
    assert(StreamHarness.lateDrops(ps) == 0)
    val got = out.collect().map(r => (r.getAs[Long]("user_id"),
      r.getAs[String]("from_type"), r.getAs[String]("to_type"),
      r.getAs[Long]("ts"))).toSet
    assert(got == Set(
      (1L, "view", "click", 20 * S),
      (1L, "click", "purchase", 30 * S),
      (2L, "view", "view", 15 * S)))

    // the matrix fold over the edges is the batch q_transitions shape
    val m = graft.streaming.StreamTransitions.transitionMatrix(out)
      .collect().map(r => (r.getAs[String]("from_type"),
        r.getAs[String]("to_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_from"),
          r.getAs[Double]("frac"))).toMap
    assert(m(("view", "click")) == ((1L, 2L, 0.5)))
    assert(m(("view", "view")) == ((1L, 2L, 0.5)))
    assert(m(("click", "purchase")) == ((1L, 1L, 1.0)))
  }

  test("streaming A/B windows equal the batch Welch read-out per slice") {
    import spark.implicits._
    val D = 86400000000L
    val base = 1704067200000000L
    // day 0: both variants present (u1,u3 odd = variant 1; u2,u4 even
    // = variant 0); day 1: only the odd variant purchases — the
    // documented NULL degenerate read-out
    val b1 = Seq(
      (1L, base + 1000L, "purchase", 10.0),
      (2L, base + 2000L, "purchase", 12.5),
      (3L, base + 3000L, "purchase", 11.0),
      (4L, base + 4000L, "purchase", 13.5),
      (2L, base + 5000L, "view", 99.0), // non-purchase: filtered
      (1L, base + D + 1000L, "purchase", 7.25),
      (3L, base + D + 2000L, "purchase", 8.75))
      .toDF("user_id", "ts", "event_type", "value")
    val b2 = Seq((99L, base + 3 * D, "purchase", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
    val b3 = Seq((98L, base + 6 * D, "purchase", 1.0))
      .toDF("user_id", "ts", "event_type", "value")

    val (out, ps) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      s => graft.streaming.StreamAbTest(s), "append", "abtest_stream")
    assert(StreamHarness.lateDrops(ps) == 0)
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("win_begin")
    val got = out.collect().map(r => key(r) -> r).toMap

    // batch replay of the same plan (watermark is a no-op on a batch
    // frame) — the closed windows must match it row-for-row
    val batchAll = graft.streaming.StreamAbTest(
      b1.unionByName(b2).unionByName(b3))
      .collect().map(r => key(r) -> r).toMap
    for (w <- got.keys) {
      assert(got(w).toSeq == batchAll(w).toSeq,
        s"window $w: stream ${got(w)} != batch ${batchAll(w)}")
    }

    // day 0 hand-check: variant0 = {12.5, 13.5}, variant1 = {10, 11}
    // -> welch z = (13 - 10.5) / sqrt(0.5/2 + 0.5/2) = 2.5/sqrt(0.5)
    val d0 = got(base)
    assert(d0.getAs[Long]("n0") == 2L && d0.getAs[Long]("n1") == 2L)
    assert(d0.getAs[Double]("mean0") == 13.0)
    assert(d0.getAs[Double]("mean1") == 10.5)
    assert(d0.getAs[Double]("z") == 3.5355)
    assert(d0.getAs[Boolean]("significant"))

    // day 1: variant 0 empty -> NULL z / NULL significant, n0 NULL
    val d1 = got(base + D)
    assert(d1.isNullAt(d1.fieldIndex("n0")))
    assert(d1.getAs[Long]("n1") == 2L)
    assert(d1.isNullAt(d1.fieldIndex("z")))
    assert(d1.isNullAt(d1.fieldIndex("significant")))
  }

  test("transitions skip cross-batch reordered events instead of " +
    "reversing edges or regressing state") {
    import spark.implicits._
    val S = 1000000L
    // u1's t=2 event arrives a batch AFTER its t=5 event, inside the
    // 10-minute watermark: it must join NO edge and must NOT regress
    // the stored last event — the t=8 successor chains off t=5
    val b1 = Seq((1L, 5 * S, 1L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val b2 = Seq((1L, 2 * S, 2L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val b3 = Seq((1L, 8 * S, 3L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val skipped = spark.sparkContext.longAccumulator("trans_ooo_skipped")
    val (out, _) = StreamHarness.feedBatches(spark, Seq(b1, b2, b3),
      s => graft.streaming.StreamTransitions(spark, s,
        watermark = "10 minutes", skipped = Some(skipped)).toDF(),
      "append", "trans_ooo")
    val got = out.collect().map(r => (r.getAs[String]("from_type"),
      r.getAs[String]("to_type"), r.getAs[Long]("ts"))).toSet
    assert(got == Set(("a", "c", 8 * S)), s"got $got")
    // the discard is observable, not silent: exactly the t=2 arrival
    assert(skipped.value == 1L, s"skipped=${skipped.value}")
  }

  test("stream-stream interval join matches the batch RangeJoin") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("event_id", "user_id", "ts", "event_type")
    val span = 30L * 60L * 1000000L
    def ivOf(df: DataFrame) = df.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts").as("begin"),
        (col("ts") + lit(span)).as("end"))
    def ptOf(df: DataFrame) = df.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))

    val dir = Files.createTempDirectory("graft_ssj").toString
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val got0 = StreamRangeJoin.pairs(ivOf(stream), ptOf(stream),
      Seq("user_id"), "begin", "end", "ts", span, watermark = "1 hour")
      .select(col("user_id"), col("event_id"), col("click_id"))
    val q = got0.writeStream.outputMode("append")
      .format("memory").queryName("ssj_test").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ssj_test")
    val want = graft.operators.RangeJoin.pairs(ivOf(ev), ptOf(ev),
      Seq("user_id"), "begin", "end", "ts", span)
      .select(col("user_id"), col("event_id"), col("click_id"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("update mode emits refreshed windows per batch (emit_on='events')") {
    // pypond's aggregator emit_on='events' re-emits a window's current
    // aggregate as events arrive (aggregator.py); Spark's update output
    // mode is the distributed analog: each micro-batch emits the
    // windows it touched, with their latest values.
    import spark.implicits._
    val m = 60L * 1000000L // one minute in µs
    // batch 1: two users inside hour-window 0; batch 2 lands MORE
    // events in that same open window (watermark has not passed it)
    val b1 = Seq((1L, 0L, 1.0), (1L, 10 * m, 2.0), (2L, 5 * m, 5.0))
      .toDF("user_id", "ts", "value")
    val b2 = Seq((1L, 20 * m, 3.0), (2L, 30 * m, 1.0))
      .toDF("user_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_upd").toString
    b1.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(b1.schema).parquet(dir)
    val rolled = StreamRollup.fixedWindow(stream, "ts", Seq("user_id"), "1h",
      watermark = "1 hour",
      aggs = Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))
    val q = rolled.writeStream.outputMode("update")
      .format("memory").queryName("upd_test").start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("upd_test")
    // the per-event semantics is real: the still-open hour-0 windows
    // were emitted in BOTH micro-batches (first with the partial
    // aggregate, again refreshed) — not just once at window close
    val reEmitted = emitted.groupBy("user_id", "idx")
      .agg(count(lit(1)).as("k")).where(col("k") > 1).count()
    assert(reEmitted == 2, "both hour-0 windows re-emit across batches")
    // and each window's LAST emission converges to the batch rollup
    // over the full data
    val want = Rollup.fixedWindow(b1.unionByName(b2), "ts", Seq("user_id"),
      "1h", Seq(count(lit(1)).as("n"), Aggs.sumExact(col("value")).as("sv")))
    val lastPerWindow = emitted.groupBy("user_id", "idx")
      .agg(max(col("n")).as("n"), max(col("sv")).as("sv"))
    assert(want.select("user_id", "idx", "n", "sv")
      .exceptAll(lastPerWindow.select("user_id", "idx", "n", "sv")).isEmpty)
  }

  test("stateless text-analysis ops run unchanged on streams (batch parity)") {
    // the scan-side LLM-pipeline family (langid, quality, entropy, ...)
    // is pure per-row Catalyst expressions — no shuffle, no state — so
    // the same operator code is stream-safe in append mode with no
    // watermark. This pins that property: a lost pushdown that
    // introduced an aggregate would break the streaming run outright.
    val batch = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft_textstream").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    def pipeline(df: DataFrame): DataFrame =
      graft.operators.TextOps.quality(graft.operators.TextOps.langId(df))
        .select("doc_id", "pred_lang", "n_tokens", "quality")
    val q = pipeline(stream).writeStream.outputMode("append")
      .format("memory").queryName("text_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("text_stream")
    val want = pipeline(batch)
    assert(got.count() == batch.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    val q2 = graft.operators.TextOps.entropy(stream).writeStream
      .outputMode("append").format("memory").queryName("entropy_stream").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("entropy_stream")
    val want2 = graft.operators.TextOps.entropy(batch)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)

    // the hashed classifier gate is the same class of pure scan-side
    // expression — an unbounded corpus scores with zero state
    val q3 = graft.operators.TextOps.classify(stream).writeStream
      .outputMode("append").format("memory").queryName("classify_stream").start()
    try q3.processAllAvailable() finally q3.stop()
    val got3 = spark.table("classify_stream")
    val want3 = graft.operators.TextOps.classify(batch)
    assert(got3.exceptAll(want3).isEmpty && want3.exceptAll(got3).isEmpty)
  }
}
