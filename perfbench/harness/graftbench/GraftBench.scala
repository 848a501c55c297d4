package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{BenchCanary, GraftSession, SparkEntry}
import graft.functions.TimeIndex
import graft.sources.Lake
import graft.streaming.{StreamDedup, StreamRollup}

/** One benchmark run of one workload in this JVM.
  *
  * Flags (all `--name value`):
  *   --kind batch|stream   --queries q1,q2,...   --data DIR   --out DIR
  *   --passes P  --trace 0|1
  *
  * Set-up, timed as `setup_s`, is a new session from
  * `GraftSession.configure` plus one pass that dumps every output for the
  * correctness check, in this JVM while it is still cold. `passes` timed
  * passes follow. The wall times of the untraced ones, and the time of
  * each query (by name) or stream trigger (by position in the drain) in
  * them, are returned as samples, each with the share of the machine's
  * CPU time the hypervisor took meanwhile.
  *
  * With `--trace 1` an unrecorded pass comes first, then as many traced
  * passes as untraced ones, at least two of each; the traced ones collect
  * per-layer counters and spans from Spark's public listener hooks, and
  * `BenchCanary.measure` is timed before and after. The result goes to
  * `<out>/result.json`; spans to `<out>/trace.json`.
  */
object GraftBench {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(
      kind = o("kind"), queries = o.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      data = o("data"), out = o("out"), passes = o("passes").toInt,
      trace = o.get("trace").contains("1"))
    val res = new Run(cfg).run()
    Files.write(Paths.get(cfg.out, "result.json"), Json(res).getBytes("UTF-8"))
    System.exit(0)
  }
}

final case class Cfg(kind: String, queries: Seq[String], data: String, out: String,
                     passes: Int, trace: Boolean) {
  /** Processors this JVM may use; the session runs at local[cpus]. */
  val cpus: Int = Runtime.getRuntime.availableProcessors
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
  }
}

/** A traced interval. Times are epoch microseconds; `req` groups the
  * spans of one query or one stream drain.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
                      run: String, req: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Per-layer counters and spans, fed by Spark's listener hooks while
  * `on` is set.
  */
final class Tracer(runId: String) {
  @volatile var on = false
  @volatile var req = ""
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val sums = mutable.Map.empty[String, Double]
  private val peaks = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }
  def peak(k: String, v: Double): Unit = synchronized { peaks(k) = math.max(peaks.getOrElse(k, 0.0), v) }
  /** Counters of the pass just ended; resets them. */
  def take(): Map[String, Double] = synchronized {
    val r = sums.toMap ++ peaks.toMap; sums.clear(); peaks.clear(); r
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  def span(parent: Long, name: String, start: Long, end: Long, r: String = req): Long =
    synchronized { nextId += 1; spans += Span(nextId, parent, name, start, end, runId, r); nextId }

  // job id -> (span id, start us, request); stage id -> job span id
  val jobs = new ConcurrentHashMap[Int, (Long, Long, String)]()
  val stageJob = new ConcurrentHashMap[Int, Long]()
  // per request: job intervals, for the driver-gap measure
  val jobIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  // query span of the request in flight
  @volatile var reqSpan = 0L
  // block-manager storage currently held, per block
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val stored = new java.util.concurrent.atomic.AtomicLong(0L)

  def listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val r = Option(e.properties).map(_.getProperty("graftbench.req", "")).getOrElse("")
      val inBuild = Option(e.properties).exists(_.getProperty("graftbench.phase", "") == "build")
      add("sched.jobs", 1)
      if (inBuild) add("entry.build_jobs", 1)
      val id = span(reqSpan, "job", e.time * 1000L, e.time * 1000L, r)
      jobs.put(e.jobId, (id, e.time * 1000L, r))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      Option(jobs.remove(e.jobId)).foreach { case (id, st, r) =>
        Tracer.this.synchronized {
          val i = spans.lastIndexWhere(_.id == id)
          if (i >= 0) spans(i) = spans(i).copy(end = e.time * 1000L)
          jobIntervals.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += ((st, e.time * 1000L))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val si = e.stageInfo
      add("sched.stages", 1)
      for (a <- si.submissionTime; b <- si.completionTime)
        span(Option(stageJob.get(si.stageId)).getOrElse(0L), "stage", a * 1000L, b * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.mb", m.diskBytesSpilled / 1e6)
        add("scan.read_mb", m.inputMetrics.bytesRead / 1e6)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("write.mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = Option(blocks.put(b.blockId.name, now)).map(_.longValue).getOrElse(0L)
      val total = stored.addAndGet(now - before)
      if (on) peak("mat.storage_peak_mb", total / 1e6)
    }
  }

  def queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (on) record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (ph, s) =>
      add(s"plan.${ph}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
      span(reqSpan, s"plan.$ph", s.startTimeMs * 1000L, s.endTimeMs * 1000L)
    }
    var (exchanges, native, hof) = (0, 0, 0)
    def exprs(e: Expression): Unit = e.foreach { x =>
      val n = x.getClass.getName
      if (n.startsWith("org.apache.spark.sql.graft.") || n.startsWith("graft.")) native += 1
      if (x.isInstanceOf[HigherOrderFunction]) hof += 1
    }
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        if (other.isInstanceOf[Exchange]) exchanges += 1
        other.expressions.foreach(exprs)
        other.subqueries.foreach(walk)
        other.children.foreach(walk)
    }
    walk(qe.executedPlan)
    add("plan.exchanges", exchanges)
    add("plan.native_exprs", native)
    add("plan.hof_exprs", hof)
  }

  def streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("stream.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
      add("stream.planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      add("stream.wal_ms", (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).toDouble)
      add("stream.triggers", 1)
      val ops = p.stateOperators
      add("stream.dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
      peak("stream.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
      peak("stream.state_mb", ops.map(_.memoryUsedBytes).sum / 1e6)
      // phases laid end to end from the trigger start, in execution order
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val tid = span(reqSpan, "trigger", t0, t0 + d.getOrElse("triggerExecution", 0L) * 1000L)
      var t = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph => d.get(ph).foreach { ms =>
          span(tid, s"trigger.$ph", t, t + ms * 1000L); t += ms * 1000L } }
    }
  }

  /** Self time per span name: duration minus the part covered by the
    * span's children, summed over spans of that name.
    */
  def selfTimes: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cover = kids.getOrElse(s.id, Nil).toSeq
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.end - s.start - Tracer.union(cover)) / 1e6
      }.sum
    }
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var (total, curA, curB) = (0L, Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

final class Run(cfg: Cfg) {
  private val runId = s"${Paths.get(cfg.out).getFileName}-${ProcessHandle.current.pid}"
  private val tracer = new Tracer(runId)
  private var spark: SparkSession = _

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[${cfg.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val s = GraftSession.configure(b, cfg.cpus * 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (cfg.trace) {
      s.sparkContext.addSparkListener(tracer.listener)
      s.listenerManager.register(tracer.queryListener)
      s.streams.addListener(tracer.streamListener)
    }
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Memory the JVM holds on to, in MB: heap in use after a full
    * collection plus non-heap in use (metaspace, code cache). Spark's
    * ContextCleaner frees blocks of collected RDDs and broadcasts only
    * after a collection has found them, so collections repeat until the
    * figure stops falling.
    */
  private def retainedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used: Double = {
      m.gc(); (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1e6
    }
    var (prev, cur, i) = (Double.MaxValue, used, 0)
    while (prev - cur > 1.0 && i < 20) { Thread.sleep(100); prev = cur; cur = used; i += 1 }
    cur
  }
  private def poolsMb: Map[String, Double] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(p => p.getName -> p.getUsage.getUsed / 1e6).toMap
  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  private def drain(): Unit = if (tracer.on) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  /** CPU seconds the hypervisor has taken from this machine so far: the
    * steal column of /proc/stat, in ticks of 1/100 s; 0 where it is not
    * reported.
    */
  private def stealS(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally f.close()
  } catch { case _: Exception => 0.0 }
  /** Share of the machine's CPU time taken by the hypervisor since `s0`. */
  private def stealShare(s0: Double, wall: Double): Double =
    (stealS() - s0) / math.max(wall * cfg.cpus, 1e-9)

  // ------------------------------------------------------------ batch

  /** Runs one query, returning (wall s, share of the machine stolen by
    * the hypervisor meanwhile), or None on failure.
    */
  private def query(name: String, dir: String, sink: DataFrame => Unit): Option[(Double, Double)] = {
    val sc = spark.sparkContext
    val req = s"$name#${tracer.spans.size}"
    val st0 = stealS()
    val t0 = System.nanoTime(); val us0 = tracer.nowUs
    tracer.req = req
    if (tracer.on) tracer.reqSpan = tracer.span(0L, "query", us0, us0, req)
    sc.setLocalProperty("graftbench.req", req)
    sc.setJobDescription(s"graftbench:$name")
    try {
      sc.setLocalProperty("graftbench.phase", "build")
      val df = SparkEntry.queries(name)(spark, dir)
      val build = secs(t0); val usB = tracer.nowUs
      sc.setLocalProperty("graftbench.phase", "exec")
      sink(df)
      val wall = secs(t0)
      if (tracer.on) {
        val usE = tracer.nowUs
        drain()
        tracer.span(tracer.reqSpan, "entry.build", us0, usB)
        tracer.span(tracer.reqSpan, "exec", usB, usE)
        tracer.synchronized {
          val i = tracer.spans.lastIndexWhere(_.id == tracer.reqSpan)
          tracer.spans(i) = tracer.spans(i).copy(end = usE)
        }
        tracer.add("entry.build_s", build)
        val jobs = tracer.synchronized(tracer.jobIntervals.remove(req).toSeq.flatten)
        tracer.add("sched.driver_gap_s", math.max(0.0, wall - Tracer.union(jobs) / 1e6))
      }
      Some((wall, stealShare(st0, wall)))
    } catch { case e: Throwable =>
      System.err.println(s"[graftbench] $name failed: $e")
      None
    } finally {
      sc.setLocalProperty("graftbench.phase", null)
      sc.setJobDescription(null)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ----------------------------------------------------------- stream

  /** Drains the backlog through the dedup -> daily-lake stream, then
    * through the watermarked 5-minute rollup stream, then reads the lake
    * back. Returns the trigger durations (s), or None.
    */
  private def drainStreams(dir: String, work: String): Option[Seq[Double]] = try {
    val us0 = tracer.nowUs
    val req = Paths.get(work).getFileName.toString
    if (tracer.on) tracer.reqSpan = tracer.span(0L, "drain", us0, us0, req)
    tracer.req = req
    val schema = spark.read.parquet(s"$dir/backlog").schema
    def source = TimeIndex.normalizeUs(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/backlog"), "ts")
    val tL = System.nanoTime()
    val q1 = Lake.streamAppendDaily(StreamDedup(source, "ts", Seq("event_id"), "1 hour"),
      "ts", s"$work/lake", s"$work/ck_lake")
    val lakeStart = secs(tL)
    def q2 = StreamRollup.fixedWindow(source, "ts", Seq("user_id"), "5m", "10 minutes",
        Seq(count(lit(1)).as("n"), sum(col("value")).as("sum_value"), max(col("value")).as("max_value")))
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$work/rollup").option("checkpointLocation", s"$work/ck_rollup").start()
    def finish(q: StreamingQuery): Seq[Double] = {
      q.processAllAvailable(); q.stop()
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq.map(_.durationMs.get("triggerExecution").longValue / 1e3)
    }
    val triggers = finish(q1) ++ finish(q2)
    val tR = System.nanoTime()
    noop(Lake.read(spark, s"$work/lake", "ts").df)
    val lakeRead = secs(tR)
    if (tracer.on) {
      drain()
      tracer.add("lake.call_s", lakeStart + lakeRead)
      tracer.add("write.files", Files.walk(Paths.get(work)).iterator.asScala
        .count(p => p.getFileName.toString.startsWith("part-")).toDouble)
      val usE = tracer.nowUs
      tracer.synchronized {
        val i = tracer.spans.lastIndexWhere(_.id == tracer.reqSpan)
        tracer.spans(i) = tracer.spans(i).copy(end = usE)
      }
    }
    Some(triggers)
  } catch { case e: Throwable =>
    System.err.println(s"[graftbench] stream drain failed: $e")
    None
  }

  // -------------------------------------------------------------- run

  def run(): Map[String, Any] = {
    val stream = cfg.kind == "stream"
    val dir = cfg.data
    var failed = 0; var attempted = 0
    // set-up: new session + one pass that dumps every output
    val t00 = System.nanoTime()
    spark = newSession()
    val setupSteps = mutable.LinkedHashMap("session" -> secs(t00))
    val dump = s"${cfg.out}/dump"
    if (stream) {
      attempted += 1
      if (drainStreams(dir, s"$dump/stream").isEmpty) failed += 1
    } else cfg.queries.foreach { n =>
      attempted += 1
      val t = System.nanoTime()
      if (query(n, dir, _.write.mode("overwrite").parquet(s"$dump/$n")).isEmpty) failed += 1
      setupSteps(n) = secs(t)
    }
    val setupS = secs(t00)
    if (!stream) Files.write(Paths.get(dump, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => cfg.queries.contains(k) }).getBytes("UTF-8"))
    val canary0 = if (cfg.trace) BenchCanary.measure(spark) else Double.NaN

    // timed passes
    // (traced, wall s, share stolen)
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    // untraced (time, share stolen) by step: query name, or trigger
    // position in a drain, whose share is that of the whole drain
    val steps = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val gc0 = {
      val g = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (g.map(_.getCollectionCount).sum, g.map(_.getCollectionTime).sum)
    }
    val jit0 = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    var k = 0
    // traced runs start with one unrecorded pass, then order the passes
    // untraced, traced, traced, untraced, ... so that the JIT's warming
    // does not leak into the tracing overhead
    val total = if (cfg.trace) 1 + 2 * math.max(2, cfg.passes) else cfg.passes
    while (k < total) {
      val warm = cfg.trace && k == 0
      val traced = cfg.trace && (k % 4 == 2 || k % 4 == 3)
      // events of the passes before are delivered first, uncounted
      if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      tracer.on = traced
      val cgA = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val st0 = stealS()
      val t0 = System.nanoTime()
      val stepTimes: Seq[Option[(Double, Double)]] =
        if (stream) {
          val r = drainStreams(dir, s"${cfg.out}/pass$k")
          val w = secs(t0); val share = stealShare(st0, w)
          Seq(r.map(_ => (w, share))) ++ r.toSeq.flatten.map(t => Some((t, share)))
        } else cfg.queries.map(n => query(n, dir, noop))
      val wall = secs(t0)
      tracer.on = false
      val (ok, keyed) =
        if (stream) (stepTimes.take(1), stepTimes.tail.zipWithIndex.map { case (t, i) => s"trigger$i" -> t })
        else (stepTimes, cfg.queries.zip(stepTimes))
      attempted += ok.size; failed += ok.count(_.isEmpty)
      if (!traced && !warm) keyed.foreach { case (key, t) =>
        steps.getOrElseUpdate(key, mutable.ArrayBuffer.empty) ++= t }
      if (!warm) passWall += ((traced, wall, stealShare(st0, wall)))
      if (traced) {
        val m = tracer.take()
        layers += m ++ Map(
          "codegen.compile_ms" -> (CodeGenerator.compileTime - cgA._1) / 1e6,
          "codegen.classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgA._2).toDouble,
          "exec.busy_cores" -> m.getOrElse("exec.run_s", 0.0) / wall)
      }
      k += 1
    }
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val (gcN, gcMs) = (gcs.map(_.getCollectionCount).sum - gc0._1, gcs.map(_.getCollectionTime).sum - gc0._2)
    val jitMs = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0
    val canary1 = if (cfg.trace) BenchCanary.measure(spark) else Double.NaN
    val retained = retainedMb()
    val pools = poolsMb
    spark.stop()

    val rss = peakRssMb
    val untraced = passWall.filter(!_._1).map(p => (p._2, p._3)).toSeq
    val perLayer: Map[String, Double] = if (!cfg.trace) Map.empty else {
      val keys = layers.flatMap(_.keys).distinct
      val peaks = Set("mat.storage_peak_mb", "stream.state_rows", "stream.state_mb")
      keys.map { key =>
        val xs = layers.map(_.getOrElse(key, 0.0)).toSeq
        key -> (if (peaks(key)) xs.max else Stats.median(xs))
      }.toMap + ("trace.overhead_s" ->
        (Stats.median(passWall.filter(_._1).map(_._2).toSeq) - Stats.median(untraced.map(_._1))))
    }
    if (cfg.trace) {
      val self = tracer.selfTimes
      Files.write(Paths.get(cfg.out, "trace.json"), Json(Map(
        "run" -> runId, "self_s" -> self,
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end, "run" -> s.run,
          "req" -> s.req)))).getBytes("UTF-8"))
    }
    Map(
      "attempted" -> attempted, "failed" -> failed,
      "setup_s" -> setupS, "pass_s" -> untraced, "step_s" -> steps,
      "per_layer" -> perLayer,
      "context" -> Map(
        "cpus" -> cfg.cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "passes" -> passWall.size,
        "peak_rss_mb" -> rss, "retained_mb" -> retained, "pools_mb" -> pools,
        "heap_committed_mb" -> Runtime.getRuntime.totalMemory / 1e6,
        "setup_steps_s" -> setupSteps,
        "codegen_classes_total" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2),
        "canary_start_s" -> canary0, "canary_end_s" -> canary1,
        "timed_gc_count" -> gcN, "timed_gc_s" -> gcMs / 1e3, "timed_jit_s" -> jitMs / 1e3))
  }
}
