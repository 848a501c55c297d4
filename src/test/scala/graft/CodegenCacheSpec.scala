package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.codegen.cache.maxEntries` from [[GraftSession.configure]]:
  * Spark keys its JVM-wide codegen cache by (class loader, source), so a
  * query whose classes compile under both the driver's and the task
  * threads' loader takes two entries per class. At the default 100 a
  * multi-leg query evicts its own classes and recompiles them on every
  * rerun.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Classes compiled while `names` run once each through the `noop` sink. */
  private def compiles(names: Seq[String]): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach(SparkEntry.queries(_)(spark, sf).write.format("noop").mode("overwrite").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm rerun of registered queries compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // the training-data legs the benchmark's train_data pass runs: ~130
    // entries cold, so at the default 100 a rerun recompiled ~40 classes
    val names = Seq("doc_dedup_minhash", "doc_topic_cluster", "emb_knn_ivf_indexed", "emb_kmeans")
    val cold = compiles(names)
    val warm = compiles(names)
    assert(warm == 0, s"$cold classes cold, $warm recompiled warm")
  }
}
