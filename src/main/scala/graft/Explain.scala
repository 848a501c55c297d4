package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of the named
  * queries (or all) — used to keep parquet pushdown, broadcast choices
  * and shuffle counts honest while iterating.
  *
  *   sbt "runMain graft.Explain q1_agg q3_join"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // -c: counts-only table (one `name N` line per query) — the mode
    // that seeds PlanBudgetSpec budget entries
    val countsOnly = args.contains("-c")
    val names0 = args.toSeq.filterNot(_ == "-c")
    val names = if (names0.nonEmpty) names0 else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val exchanges = df.queryExecution.executedPlan.toString()
        .linesIterator.count(_.contains("Exchange"))
      if (countsOnly) println(s"XCNT $n $exchanges")
      else {
        println(s"\n========== $n ==========")
        df.explain("formatted")
        println(s"[exchanges in initial physical plan: $exchanges]")
      }
    }
    spark.stop()
  }
}
