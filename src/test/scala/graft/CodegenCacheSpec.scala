package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Lake
import graft.streaming.{StreamDedup, StreamRollup}

/** Spark's JVM-wide codegen cache, keyed by (class loader, source),
  * under the confs of [[GraftSession.configure]]:
  *  - `spark.sql.codegen.cache.maxEntries`: a query whose classes
  *    compile under both the driver's and the task threads' loader takes
  *    two entries per class. At the default 100 a multi-leg query evicts
  *    its own classes and recompiles them on every rerun.
  *  - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
  *    every session (a `newSession()`, the clone each streaming query
  *    runs in) gets its own executor class loader, so its tasks
  *    recompile every class the sessions before them already compiled.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  // the training-data legs the benchmark's train_data pass runs
  private val trainData =
    Seq("doc_dedup_minhash", "doc_topic_cluster", "emb_knn_ivf_indexed", "emb_kmeans")

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Runs `names` once each on `s` through the `noop` sink. */
  private def runAll(s: org.apache.spark.sql.SparkSession, names: Seq[String]): Unit =
    names.foreach(SparkEntry.queries(_)(s, sf).write.format("noop").mode("overwrite").save())

  test("a warm rerun of registered queries compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // ~130 entries cold, so at the default 100 a rerun recompiled ~40 classes
    val cold = compiles(runAll(spark, trainData))
    val warm = compiles(runAll(spark, trainData))
    assert(warm == 0, s"$cold classes cold, $warm recompiled warm")
  }

  test("the train_data legs rerun on a new session compile no class") {
    runAll(spark, trainData)
    val fresh = spark.newSession()
    val n = compiles(runAll(fresh, trainData))
    assert(n == 0, s"$n classes recompiled on a new session")
  }

  test("a stream restarted on fresh checkpoints compiles no class") {
    // a time-ordered backlog of 4 files, drained one file per trigger
    val ev = graft.functions.TimeIndex.normalizeUs(
      graft.sources.Parquet.read(spark, s"$sf/events.parquet"), "ts")
      .select("event_id", "user_id", "ts", "value")
    val backlog = Files.createTempDirectory("graft_cgbacklog").toString
    ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(backlog)
    def source = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(backlog)
    def finish(q: StreamingQuery): Unit = {
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }
    /** Each streaming query runs in its own clone of `spark`. */
    def drain(): Unit = {
      val work = Files.createTempDirectory("graft_cgstream").toString
      finish(Lake.streamAppendDaily(StreamDedup(source, "ts", Seq("event_id"), "1 hour"),
        "ts", s"$work/lake", s"$work/ck_lake"))
      finish(StreamRollup.fixedWindow(source, "ts", Seq("user_id"), "5m", "10 minutes",
          Seq(count(lit(1)).as("n"), sum(col("value")).as("sum_value")))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$work/rollup").option("checkpointLocation", s"$work/ck_rollup")
        .start())
    }
    val cold = compiles(drain())
    val warm = compiles(drain())
    assert(cold > 0)
    assert(warm == 0, s"$cold classes on the first drain, $warm recompiled on the second")
  }
}
