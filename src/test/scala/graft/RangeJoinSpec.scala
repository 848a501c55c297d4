package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeJoin

class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("banded pairs == naive inequality join, each pair exactly once") {
    import spark.implicits._
    // intervals spanning 0-3 buckets (bucket = 100), points across all
    val iv = Seq((1L, 10L, 0L, 250L), (1L, 11L, 90L, 110L),
      (1L, 12L, 300L, 301L), (2L, 20L, 0L, 50L), (2L, 21L, 100L, 100L))
      .toDF("k", "iv_id", "begin", "end")
    val pts = (0L until 400L by 7L).map(t => (1L, t)) ++
      (0L until 400L by 13L).map(t => (2L, t))
    val p = pts.toDF("k", "pt")
    val got = RangeJoin.pairs(iv, p, Seq("k"), "begin", "end", "pt", 100L)
      .select("k", "iv_id", "pt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = iv.as[(Long, Long, Long, Long)].collect().flatMap {
      case (k, id, b, e) =>
        pts.filter { case (pk, t) => pk == k && t >= b && t < e }
          .map { case (_, t) => (k, id, t) }
    }.toSeq
    // sorted Seq compare (not Set): also proves no pair is duplicated
    assert(got.sorted == want.sorted)
    // the empty interval [100,100) matched nothing
    assert(!got.exists(_._2 == 21L))
  }

  test("banding floors negative instants consistently (pre-1970)") {
    import spark.implicits._
    val iv = Seq((1L, 1L, -150L, 50L)).toDF("k", "iv_id", "begin", "end")
    val p = Seq((1L, -150L), (1L, -1L), (1L, 0L), (1L, 49L), (1L, 50L))
      .toDF("k", "pt")
    val got = RangeJoin.pairs(iv, p, Seq("k"), "begin", "end", "pt", 100L)
      .select("pt").as[Long].collect().toSet
    assert(got == Set(-150L, -1L, 0L, 49L))
  }
}

/** The optimizer-rule counterpart of RangeJoin.pairs: a NAIVE
  * containment join written by a user is rewritten into the banded
  * equi-join automatically (BandedRangeJoinRule, registered via
  * spark.sql.extensions=GraftExtensions).
  */
class BandedRangeJoinRuleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val BucketKey =
    org.apache.spark.sql.graft.BandedRangeJoinRule.BucketConfKey

  private def withBucket[T](b: Long)(f: => T): T =
    try { spark.conf.set(BucketKey, b.toString); f }
    finally { spark.conf.unset(BucketKey) }

  private def naive = {
    import spark.implicits._
    val iv = Seq((10L, 0L, 250L), (11L, 90L, 110L), (12L, 300L, 301L),
      (13L, 100L, 100L)).toDF("iv_id", "begin", "end")
    val p = (0L until 400L by 7L).toDF("pt")
    p.join(iv, col("pt") >= col("begin") && col("pt") < col("end"))
  }

  test("rule rewrites a pure containment join to a hash join, same rows") {
    val want = naive.collect().map(_.toSeq).toSeq // rule off: BNLJ reference
    val (got, plan) = withBucket(100L) {
      (naive.collect().map(_.toSeq).toSeq,
        naive.queryExecution.executedPlan.toString)
    }
    // exactness: every true pair exactly once, columns unchanged
    assert(got.sortBy(_.toString) == want.sortBy(_.toString) && got.nonEmpty)
    // plan shape: the O(|P|x|V|) nested loop is gone, a banded
    // hash/sort-merge join on __graft_band took its place
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__graft_band"), plan)
  }

  test("rule leaves joins with an existing equi key alone") {
    import spark.implicits._
    val iv = Seq((1L, 10L, 0L, 250L)).toDF("k", "iv_id", "begin", "end")
    val p = Seq((1L, 5L), (1L, 300L), (2L, 5L)).toDF("k", "pt")
    val j = p.join(iv, p("k") === iv("k") &&
      col("pt") >= col("begin") && col("pt") < col("end"))
    val plan = withBucket(100L)(j.queryExecution.executedPlan.toString)
    assert(!plan.contains("__graft_band"), plan)
    assert(withBucket(100L)(j.count()) == 1L)
  }

  test("rule is inert without the bucket conf") {
    assert(!naive.queryExecution.executedPlan.toString
      .contains("__graft_band"))
  }

  test("q_interval_join_auto is rewritten without setting the caller's conf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivj").toString
    Seq((0L, 1L, "error", 0L), (0L, 2L, "click", 60000000L))
      .toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.parquet(s"$dir/events.parquet")
    val q = SparkEntry.queries("q_interval_join_auto")(spark, dir)
    assert(q.queryExecution.executedPlan.toString.contains("__graft_band"))
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 1L)))
    assert(spark.conf.getOption(BucketKey).isEmpty)
  }

  test("inverted intervals are dropped, not exploded") {
    import spark.implicits._
    // end < begin by a huge margin: unguarded sequence() would DESCEND
    // across ~2e16 buckets and OOM; the rule's guard drops the row
    val iv = Seq((10L, 1704067200000000L, 0L)).toDF("iv_id", "begin", "end")
    val p = Seq(0L, 100L).toDF("pt")
    val n = withBucket(3600000000L) {
      p.join(iv, col("pt") >= col("begin") && col("pt") < col("end")).count()
    }
    assert(n == 0L)
  }

  test("rewritten join bands negative instants consistently (pre-1970)") {
    import spark.implicits._
    val iv = Seq((1L, -150L, 50L)).toDF("iv_id", "begin", "end")
    val p = Seq(-150L, -1L, 0L, 49L, 50L).toDF("pt")
    val (got, plan) = withBucket(100L) {
      val j = p.join(iv, col("pt") >= col("begin") && col("pt") < col("end"))
      (j.select("pt").collect().map(_.getLong(0)).toSet,
        j.queryExecution.executedPlan.toString)
    }
    assert(plan.contains("__graft_band"), plan)
    assert(got == Set(-150L, -1L, 0L, 49L))
  }
}
