package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Per-query profiler: wall seconds, Spark job/stage/task counts and
  * total executor task time for each named query — separates fixed
  * driver/scheduling overhead (many tiny jobs) from real task compute —
  * followed by the query's six costliest stages (executor seconds,
  * task count, call site). `build_s` and `build_jobs` are the part
  * spent inside `SparkEntry.queries(name)`, building the plan before
  * the action. `cg_classes` counts the classes compiled during the
  * measured (third) run: a warm rerun compiles none, so a nonzero
  * count marks a query that recompiles on every run (plans that differ
  * only in literals, or a loader per session). The last line totals
  * `build_s`, `build_jobs` and `cg_classes` over every query run.
  *
  *   sbt "runMain graft.ProfQ emb_ann_recall doc_dedup_eval"
  *
  * Methodology matches Bench (noop sink, warm run first, min of two
  * timed runs for the wall clock; listener deltas from the LAST run).
  */
object ProfQ {
  /** Local property marking the jobs a plan build starts. */
  private val Phase = "graft.profq.phase"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val buildJobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val gcTimeMs = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    // per-stage attribution: (first callsite line, n_tasks, run ms)
    val stageInfoMap = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageTimeMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(j.properties).exists(_.getProperty(Phase) == "build"))
          buildJobs.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        stageInfoMap.put(s.stageInfo.stageId,
          s.stageInfo.name.take(110))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          gcTimeMs.addAndGet(m.jvmGCTime)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          stageTimeMs.computeIfAbsent(t.stageId, _ => new AtomicLong(0))
            .addAndGet(m.executorRunTime)
          stageTasks.computeIfAbsent(t.stageId, _ => new AtomicInteger(0))
            .incrementAndGet()
        }
      }
    })

    /** (build seconds, wall seconds) of one build + noop write. */
    def runOnce(name: String): (Double, Double) = {
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      sc.setLocalProperty(Phase, "build")
      val df = try SparkEntry.queries(name)(spark, sfDir)
        finally sc.setLocalProperty(Phase, null)
      val build = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      (build, (System.nanoTime() - t0) / 1e9)
    }

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-32s ${"wall_s"}%8s ${"build_s"}%8s ${"jobs"}%5s " +
      f"${"build_jobs"}%10s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s " +
      f"${"gc_s"}%6s ${"shufMB"}%8s ${"cg_classes"}%10s")
    var totalBuildS = 0.0
    var totalBuildJobs = 0
    var totalCgClasses = 0L
    names.foreach { n =>
      try {
        runOnce(n) // warm
        val (_, w1) = runOnce(n)
        jobs.set(0); buildJobs.set(0); stages.set(0); tasks.set(0)
        taskTimeMs.set(0); gcTimeMs.set(0); shufWrite.set(0)
        stageInfoMap.clear(); stageTimeMs.clear(); stageTasks.clear()
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (b2, w2) = runOnce(n)
        val cgClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        // listener is async; let the queue drain
        Thread.sleep(300)
        totalBuildS += b2
        totalBuildJobs += buildJobs.get
        totalCgClasses += cgClasses
        println(f"$n%-32s ${math.min(w1, w2)}%8.3f $b2%8.3f ${jobs.get}%5d " +
          f"${buildJobs.get}%10d ${stages.get}%6d ${tasks.get}%6d " +
          f"${taskTimeMs.get / 1e3}%8.2f ${gcTimeMs.get / 1e3}%6.2f " +
          f"${shufWrite.get / 1e6}%8.1f $cgClasses%10d")
        stageTimeMs.asScala.toSeq.sortBy(-_._2.get).take(6).foreach {
          case (sid, ms) =>
            println(f"    stage $sid%4d ${ms.get / 1e3}%8.2f s " +
              f"${stageTasks.get(sid).get}%4d tasks  " +
              stageInfoMap.getOrDefault(sid, "?"))
        }
      } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.getMessage}")
      }
    }
    println(f"${"TOTAL (last builds)"}%-32s ${""}%8s $totalBuildS%8.3f " +
      f"${""}%5s $totalBuildJobs%10d ${""}%6s ${""}%6s ${""}%8s ${""}%6s ${""}%8s " +
      f"$totalCgClasses%10d")
    spark.stop()
  }
}
