package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TimeIndex
import graft.ts.TimeRange

object SparkTestSession {
  lazy val spark: SparkSession = {
    // the shipped configuration (GraftExtensions, fork-free file:
    // binding, codegen cache) at the suite's fixed width
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      // bucketed-table tests register catalog tables; keep their files
      // out of the repo working tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString), 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The columns the file scans of `df`'s physical plan prune
    * partitions on by value at planning time. Every `FileScan` prints
    * a `PartitionFilters` list, empty or not, so the plan text alone
    * cannot show pruning. Left out: `isnotnull` (a join key infers
    * one, and it keeps every partition) and dynamic pruning filters
    * (decided at run time).
    */
  def partitionFilterCols(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, IsNotNull}
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.filter {
          case _: IsNotNull | _: DynamicPruningExpression => false
          case _ => true
        }.flatMap(_.references.map(_.name))
    }.flatten.toSet
  }
}

class TimeIndexSpec extends AnyFunSuite {
  test("window durations match pypond's UNITS table (index.py:357)") {
    assert(TimeIndex.durationMs("30s") == 30000L)
    assert(TimeIndex.durationMs("5m") == 300000L)
    assert(TimeIndex.durationMs("1h") == 3600000L)
    assert(TimeIndex.durationMs("1d") == 86400000L)
  }

  test("index string matches pypond example (index.py:408 doc)") {
    // 2015-03-14T07:32:22Z -> '5m-4754394'
    val spark = SparkTestSession.spark
    import spark.implicits._
    val tsUs = 1426318342000000L
    val idx = Seq(tsUs).toDF("ts")
      .select(TimeIndex.indexOf(org.apache.spark.sql.functions.col("ts"), "5m"))
      .head().getString(0)
    assert(idx == "5m-4754394")
  }

  test("indexList covers begin..end buckets inclusive (index.py:439)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    def list(b: Long, e: Long, win: String): Seq[String] =
      Seq((b, e)).toDF("b", "e")
        .select(TimeIndex.indexList(
          org.apache.spark.sql.functions.col("b"),
          org.apache.spark.sql.functions.col("e"), win))
        .head().getSeq[String](0)
    val h = 3600000000L
    assert(list(h + 1, 3 * h, "1h") == Seq("1h-1", "1h-2", "1h-3"))
    assert(list(h, h, "1h") == Seq("1h-1"))
    // pre-1970: floor division bands negatives consistently with posOf
    assert(list(-h - 1, 1, "1h") == Seq("1h--2", "1h--1", "1h-0"))
    // inverted range: empty, never a descending sequence
    assert(list(3 * h, h, "1h").isEmpty)
  }
}

class TimeRangeSpec extends AnyFunSuite {
  val a = TimeRange(0L, 100L)
  test("contains / overlaps / disjoint keep pypond semantics (range.py)") {
    assert(a.contains(TimeRange(10, 20)))
    assert(!a.overlaps(TimeRange(10, 20))) // full containment != overlap
    assert(a.overlaps(TimeRange(50, 150)))
    assert(a.overlaps(TimeRange(-50, 50)))
    assert(a.disjoint(TimeRange(101, 200)))
    assert(a.intersection(TimeRange(50, 150)).contains(TimeRange(50, 100)))
    assert(a.intersection(TimeRange(200, 300)).isEmpty)
  }
}

class ApproxAggSpec extends AnyFunSuite {
  test("sketch aggregates land within their error bounds of exact") {
    val spark = SparkTestSession.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val r = ev.agg(
      expr("percentile(value, 0.9)").as("exact_p90"),
      graft.functions.Aggs.percentileApprox(col("value"), 0.9).as("approx_p90"),
      countDistinct(col("user_id")).as("exact_nd"),
      graft.functions.Aggs.countDistinctApprox(col("user_id")).as("approx_nd"))
      .head()
    assert(math.abs(r.getDouble(1) - r.getDouble(0)) / r.getDouble(0) < 0.05)
    assert(math.abs(r.getLong(3) - r.getLong(2)).toDouble / r.getLong(2) < 0.1)
  }
}

class QuerySmokeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("every declared query runs and returns rows on sf0.001") {
    val spark = SparkTestSession.spark
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("every query has an oracle (or is a declared rows-only sketch)") {
    // empty since r7: the two former rows-only sketches
    // (ts_agg_approx, doc_contamination_bloom) now wrap their
    // engine-specific internals in value-asserting contracts, so
    // every registered query carries a full DuckDB oracle
    val rowsOnly = Set.empty[String]
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
    assert((rowsOnly & SparkEntry.oracleSql.keySet).isEmpty,
      "rows-only queries must not also declare an oracle")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(SparkTestSession.spark).count() > 0)
  }

  test("analytics-family invariants hold on sf0.001") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._

    // transitions: each row's n_from is the row-sum of its from_type
    // (the matrix is row-consistent by construction on both engines)
    val tr = SparkEntry.queries("q_transitions")(spark, dir)
    val bad = tr.groupBy("from_type")
      .agg(sum(col("n")).as("s"), max(col("n_from")).as("nf"),
        min(col("n_from")).as("nf2"))
      .where(col("s") =!= col("nf") || col("nf") =!= col("nf2"))
    assert(bad.isEmpty, "q_transitions row-sum != n_from")

    // cohort matrix: every user is active in their own first week, so
    // the offset-0 cell equals the cohort size exactly
    val cm = SparkEntry.queries("q_cohort_matrix")(spark, dir)
    val off0 = cm.where(col("week_offset") === 0)
      .where(col("n_active") =!= col("n_cohort"))
    assert(off0.isEmpty, "q_cohort_matrix offset-0 != cohort size")

    // ltv: cumulative revenue is non-decreasing within each cohort
    // and its final value is the cohort's total revenue
    val lt = SparkEntry.queries("q_ltv")(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_week").orderBy("week_offset")
    val dec = lt.withColumn("prev", lag(col("cum_revenue"), 1).over(w))
      .where(col("prev").isNotNull && col("cum_revenue") < col("prev"))
    assert(dec.isEmpty, "q_ltv cumulative revenue decreased")
    val tot = lt.groupBy("cohort_week")
      .agg(sum(col("revenue")).as("s"), max(col("cum_revenue")).as("c"))
      .where(abs(col("s") - col("c")) > 1e-6)
    assert(tot.isEmpty, "q_ltv final cum != cohort revenue total")
  }
}
