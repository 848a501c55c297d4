package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{BaseSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Plan auditor: prints the formatted physical plan of the named
  * queries (or all) — used to keep parquet pushdown, broadcast choices
  * and shuffle counts honest while iterating.
  *
  *   sbt "runMain graft.Explain q1_agg q3_join"
  */
object Explain {
  /** Exchange nodes in `df`'s AQE-initial plan, each distinct
    * subquery (by canonicalized plan) counted once, as `ReuseSubquery`
    * runs it; the plan text repeats a subquery at every use. The count
    * `PlanBudgetSpec` budgets.
    */
  def exchanges(df: DataFrame): Int = {
    val seen = scala.collection.mutable.HashSet.empty[SparkPlan]
    def walk(p: QueryPlan[_]): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case s: BaseSubqueryExec => if (seen.add(s.child.canonicalized)) walk(s.child) else 0
      case _ => (p match { case _: Exchange | _: ReusedExchangeExec => 1; case _ => 0 }) +
        (p.innerChildren ++ p.children.asInstanceOf[Seq[QueryPlan[_]]]).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

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
      val x = exchanges(df)
      if (countsOnly) println(s"XCNT $n $x")
      else {
        println(s"\n========== $n ==========")
        df.explain("formatted")
        println(s"[exchanges in initial physical plan: $x]")
      }
    }
    spark.stop()
  }
}
