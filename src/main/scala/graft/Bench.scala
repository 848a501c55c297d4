package graft

import org.apache.spark.sql.SparkSession

/** Fixed calibration leg shared by [[Bench]] and [[BenchScale]]:
  * 200M-row hash-agg over `spark.range` — zero I/O, pinned 32-way
  * parallelism, IDENTICAL work at every scale factor and in every
  * round. Cross-round bench absolutes drift with box state (r12→r13
  * moved a uniform 1.125x; a standalone re-measure of one r12 leg
  * moved 3x), so round-over-round totals are only comparable after
  * normalizing by this number: emitted as `canary_sec` in every
  * bench JSON, timed FIRST (after its own warmup) so later queries'
  * cache/GC state can't leak into it.
  */
object BenchCanary {
  def measure(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      // pmod bounds each term to [0, 1e6) so the 200M-row sum stays
      // ~2e14 — a raw xxhash64 sum overflows long under ANSI mode
      spark.range(0L, 200000000L, 1L, 32)
        .agg(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup (JIT + codegen)
    math.min(once(), once())
  }
}

/** Benchmark main: one JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink (full computation of
  * every output column, no I/O) — a bare count() would let Catalyst
  * prune the very projections row-level operators exist to compute.
  * Each query is timed on its second run; the first run warms JIT /
  * codegen caches so timings reflect steady-state executor work, which
  * is what extrapolates to a long-running cluster job.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val canary = BenchCanary.measure(spark)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run — the scaling
    // spot-runs (SURVEY par.5) time just the families under study.
    // Unknown names fail fast: a typo would otherwise be silently
    // dropped by the filter and yield a partial run that still prints
    // a plausible-looking total
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .map { only =>
        val unknown = only -- names0.toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not registered: " +
            unknown.toSeq.sorted.mkString(", "))
        names0.filter(only.contains)
      }.getOrElse(names0)
    names.foreach(runOnce) // warmup pass
    // two timed passes, keep the min: single-JVM local mode has GC/JIT
    // noise spikes that a one-shot reading attributes to random queries
    val r1 = names.map(n => n -> runOnce(n)).toMap
    val r2 = names.map(n => n -> runOnce(n)).toMap
    val results = names.map { n =>
      val (a, b) = (r1(n), r2(n))
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    // Closing canary: the opening one is timed FIRST, so box slowdown
    // that develops DURING the run (observed: a 32-core r15 run whose
    // mid-alphabet queries ran 3-5x slow while the canary looked fine)
    // is invisible to it. Re-measuring the identical fixed leg after
    // the timed passes bounds intra-run drift: canary_end_sec >>
    // canary_sec marks the run's absolutes as untrustworthy. Additive
    // key only — the driver contract (metric/value/unit/queries/sf) is
    // unchanged.
    val canaryEnd = BenchCanary.measure(spark)

    // The harness parses only the LAST ~2000 chars of stdout, so the JSON
    // line must fit entirely inside that window. Degrade gracefully as
    // the query count grows: 2dp -> 1dp per-query values -> fold the
    // fastest queries into one "_other" bucket until the line fits. The
    // total always keeps 2dp.
    def fmt(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)
      val t = s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      if (t.isEmpty) "0" else t
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    def line(rs: Seq[(String, Double)], dp: Int): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",""" +
        s""""canary_sec":${fmt(canary, 3)},""" +
        s""""canary_end_sec":${fmt(canaryEnd, 3)},""" +
        s""""queries":$qs,"sf":"$sfLabel"}"""
    }
    def shrink(rs: Seq[(String, Double)], dp: Int): String = {
      val l = line(rs, dp)
      if (l.length <= 1990) l
      else if (dp > 1) shrink(rs, dp - 1)
      else {
        // drop the fastest remaining query into _other and retry
        val (fast, rest) = rs.filter(_._1 != "_other")
          .sortBy(_._2).splitAt(1)
        val other = rs.find(_._1 == "_other").map(_._2).getOrElse(0.0) +
          fast.map(_._2).sum
        shrink(rest ++ Seq("_other" -> other), dp)
      }
    }
    val out = shrink(results, 2)
    // The self-limiting line above folds slow-tail queries into "_other"
    // once the registry outgrows the driver's 2000-char stdout window
    // (r12: 93/237 survived). The FULL per-query map goes to a sidecar
    // file so per-query history is never lost — driver artifact stays
    // the line, the detail file rides along in the repo.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    val detail = {
      val qs = results.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",""" +
        s""""canary_sec":${fmt(canary, 3)},""" +
        s""""canary_end_sec":${fmt(canaryEnd, 3)},""" +
        s""""queries":$qs,"sf":"$sfLabel"}"""
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // stop BEFORE printing: Spark's shutdown chatter goes to stderr, and
    // emitting the JSON as the very last stdout write (with sbt's
    // [success] summary suppressed in build.sbt) makes it the final line
    // of stdout — robust to drivers that parse only the last line.
    spark.stop()
    println(out)
    System.out.flush()
  }
}
